package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All are pure narrow transformations built from
  * codegen'd builtins — no UDFs, no shuffle; at 100 TB they run map-side
  * at scan speed and column-prune to just the text column.
  */
object TextStats {

  /** BPE-ish token pattern: runs of Unicode alphanumerics or single
    * non-space punctuation marks (approximates how byte-pair tokenizers
    * split). Count functions evaluate it over [[cjkSpaced]] text so CJK
    * codepoints count individually (a 500-char Chinese sentence is ~500
    * tokens, not 1 — the budget-accounting semantics [[graft.operators
    * .Dedup.words]] pins for the tokenizer itself). */
  val TokenPattern = "[\\p{L}\\p{M}\\p{N}]+|[^\\p{L}\\p{M}\\p{N}\\s]"
  val WordPattern = "[\\p{L}\\p{M}\\p{N}]+"

  /** Text with every CJK codepoint space-isolated — the shared pre-pass
    * that lets run-counting patterns see per-codepoint tokens without a
    * full tokenize (separators already break runs on their own). */
  private def cjkSpaced(c: Column): Column =
    regexp_replace(c, "([" + graft.operators.Dedup.CjkClass + "])", " $1 ")

  def wordCount(c: Column): Column =
    size(regexp_extract_all(cjkSpaced(c), lit(WordPattern), lit(0)))
      .cast("long")

  def tokenCount(c: Column): Column =
    size(regexp_extract_all(cjkSpaced(c), lit(TokenPattern), lit(0)))
      .cast("long")

  /** Whitespace-split token count (the cheap estimator). */
  def whitespaceTokenCount(c: Column): Column =
    size(split(trim(c), "\\s+")).cast("long")

  private def countMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  def alphaChars(c: Column): Column = countMatches(c, "[\\p{L}\\p{M}]")
  def digitChars(c: Column): Column = countMatches(c, "\\p{N}")
  def punctChars(c: Column): Column = countMatches(c, "[^\\p{L}\\p{M}\\p{N}\\s]")

  /** Count non-overlapping occurrences of literal `word` bounded by
    * spaces, via the replace-length trick (expressible identically in any
    * SQL engine — used by the DuckDB oracles). Text is padded so boundary
    * words count. */
  def wordOccurrences(c: Column, word: String): Column = {
    val padded = concat(lit(" "), c, lit(" "))
    val needle = s" $word "
    // non-overlapping: " a a a " → replace kills alternating matches; good
    // enough for scoring (and bit-identical to the oracle formula).
    ((length(padded) - length(regexp_replace(padded, needle, " "))) /
      lit(needle.length - 1)).cast("long")
  }

  /** Quality score in [0,1]: blend of alpha ratio, mean word length
    * band, and stopword presence — deterministic, grid-aligned via
    * integer arithmetic then one final rounding. */
  def qualityScore(c: Column): Column = {
    val n = length(c).cast("double")
    val alphaRatio = alphaChars(c).cast("double") / greatest(n, lit(1.0d))
    val words = wordCount(c).cast("double")
    val meanWordLen = alphaChars(c).cast("double") / greatest(words, lit(1.0d))
    val stopRatio = (wordOccurrences(c, "the") + wordOccurrences(c, "a"))
      .cast("double") / greatest(words, lit(1.0d))
    round(alphaRatio * lit(0.5d) +
      when(meanWordLen.between(3.0d, 8.0d), lit(0.3d)).otherwise(lit(0.0d)) +
      least(stopRatio * lit(2.0d), lit(1.0d)) * lit(0.2d), 6)
  }

  /** Shannon entropy (bits/char) of the codepoint distribution — see
    * [[graft.functions.CharEntropy]] (codegen'd map-side kernel; null on
    * empty). Band-pass it: low = repetitive filler, high = binary junk. */
  def charEntropy(c: Column): Column = graft.functions.CharEntropy(c)

  /** Per-group score-percentile gate — "keep the top `keepFraction` of
    * every domain by quality" (the CCNet/DCLM-style curation step that
    * balances quality filtering ACROSS sources instead of letting one
    * verbose domain crowd out the rest). Appends `score` (the evaluated
    * score column), `threshold` (the group's cut), and `kept`.
    *
    * Threshold is RANK-defined, not interpolated: the largest score s
    * such that at least `ceil(keepFraction·n)` of the group's rows score
    * ≥ s. Ties AT the threshold are all kept (so ≥ ceil(f·n) rows
    * survive). No floating-point percentile interpolation — engines
    * disagree in the last ulp on interpolated quantiles, while this
    * definition is pure integer counting over the score grid, so the
    * DuckDB oracle replays it exactly. Pass a GRID-ALIGNED score (e.g.
    * [[qualityScore]], rounded 6 dp) — an unrounded double score would
    * make tie groups engine-dependent.
    *
    * Scale shape: one map-side-combinable (group, score) histogram
    * aggregate (state = distinct scores per group, bounded by the score
    * grid, NOT by row count); the cumulative window runs over that
    * compressed histogram — thousands of rows where the corpus has
    * billions; thresholds (one row per group) broadcast back and the
    * gate itself is a map-side filter. The corpus is never windowed,
    * never sorted, never shuffled beyond the histogram aggregate. */
  def percentileGate(df: DataFrame, groupCol: String, scoreCol: Column,
                     keepFraction: Double): DataFrame = {
    val scored = df.withColumn("score", scoreCol)
    val hist = scored.groupBy(col(groupCol), col("score"))
      .agg(count(lit(1)).as("_c"))
    applyGate(scored, groupCol,
      gateThresholdsFromHistogram(hist, groupCol, keepFraction))
  }

  /** [[percentileGate]]'s rank-defined cut computed from a compressed
    * (group, score, count) HISTOGRAM — factored out so the SAME fold
    * (histogram counts are mergeable, so thresholds from an accumulated
    * store equal thresholds over the accumulated corpus — the
    * [[graft.streaming.StreamGate]] contract) runs over a persisted
    * epoch store. `hist` columns: `groupCol`, `score`, `_c`. One row
    * per group: (groupCol, threshold). */
  private[graft] def gateThresholdsFromHistogram(hist: DataFrame,
      groupCol: String, keepFraction: Double): DataFrame = {
    require(keepFraction > 0 && keepFraction <= 1,
      s"keepFraction must be in (0, 1]: $keepFraction")
    val n = hist.groupBy(groupCol).agg(sum(col("_c")).as("_n"))
    val cum = hist.withColumn("_cum",
      sum(col("_c")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(groupCol).orderBy(col("score").desc)))
    cum.join(n, Seq(groupCol))
      .where(col("_cum") >= ceil(lit(keepFraction) * col("_n")))
      .groupBy(groupCol).agg(max(col("score")).as("threshold"))
  }

  /** Map-side gate application: broadcast the per-group thresholds and
    * append `threshold` + `kept`. `scored` must already carry `score`. */
  private[graft] def applyGate(scored: DataFrame, groupCol: String,
                               thr: DataFrame): DataFrame =
    scored.join(broadcast(thr), Seq(groupCol), "left")
      .withColumn("kept", col("score") >= col("threshold"))

  /** Per-group KL divergence KL(P_g ‖ P_corpus) over the word unigram
    * distribution — the domain-distinctiveness diagnostic behind
    * mixture planning ("how far is this source's language from the
    * blend?"; pairs with [[graft.operators.Sampling.temperatureWeights]]
    * and DSIR). No smoothing is needed: the sum runs over words the
    * GROUP observed (absent words contribute exactly 0 to KL), and
    * every observed word has corpus probability > 0 by inclusion.
    *
    * Output: (group, n_words, kl) — kl in nats, monotone 0-at-identical.
    * Cross-engine discipline: each word's term p_g·ln(p_g/p_c) is
    * rounded onto the 1e-6 grid and summed as DECIMAL (exact in any
    * partition order), the bigramLm pattern.
    *
    * Scale shape: two hash aggregates (group×word and word counts, both
    * map-side combinable) + an equi-join on the word key (hot stopwords
    * are the AQE skew case) + one broadcast 1-row corpus total — the
    * corpus is never collected and nothing is O(vocab²). */
  def sourceDivergence(df: DataFrame, groupCol: String,
                       textCol: String): DataFrame = {
    val words = df.select(col(groupCol).as("_g"),
      explode(filter(graft.operators.Dedup.words(col(textCol)),
        w => w =!= lit(""))).as("_w"))
    val gw = words.groupBy("_g", "_w").agg(count(lit(1)).as("_c"))
    val gn = gw.groupBy("_g").agg(sum(col("_c")).as("_n"))
    val cw = gw.groupBy("_w").agg(sum(col("_c")).as("_cc"))
    val tot = cw.agg(sum(col("_cc")).as("_tc"))
    val terms = gw.join(gn, Seq("_g")).join(cw, Seq("_w"))
      .crossJoin(broadcast(tot))
      .select(col("_g"), col("_n"),
        round((col("_c").cast("double") / col("_n").cast("double"))
          * log((col("_c").cast("double") / col("_n").cast("double"))
            / (col("_cc").cast("double") / col("_tc").cast("double"))), 6)
          .cast("decimal(28,6)").as("_term"))
    terms.groupBy(col("_g").as(groupCol))
      .agg(max(col("_n")).as("n_words"),
        round(sum(col("_term")).cast("double"), 6).as("kl"))
  }

  /** Log-likelihood keyness (Dunning's G², 1993): WORD-level source
    * attribution — which words distinguish the `target` group from the
    * rest of the corpus. The word-resolution companion to
    * [[sourceDivergence]]'s distribution-level KL: KL says "this source
    * is 0.4 nats from the blend", keyness says WHICH words carry it.
    * G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)) per word with a/b the
    * target/rest counts and E the expected counts under independence;
    * the result is SIGNED by rate comparison (positive = target-
    * overrepresented) before rounding, so one column ranks both
    * directions. Zero-count terms contribute exactly 0 (no smoothing
    * needed — both marginals are observed).
    *
    * Cross-engine discipline: counts stay exact BIGINTs; each term is
    * ONE fixed double op order (a·ln(a / (N_a·(a+b)/N)), the PMI/KL
    * pattern) and the expected-count arithmetic runs in doubles so no
    * BIGINT product overflows at corpus scale. Output:
    * (word, cnt_target, cnt_rest, g2), top-k by (g2 desc, word).
    *
    * Scale shape: ONE (side, word) count aggregate (map-side
    * combinable), a word-keyed full-outer self-alignment, one broadcast
    * 1-row totals frame; the minCount gate bounds the ranked set and
    * nothing is O(vocab²). */
  def keyness(df: DataFrame, groupCol: String, textCol: String,
              target: String, minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(k >= 1, s"k must be >= 1: $k")
    val words = df.select((col(groupCol) === target).as("_t"),
      explode(filter(graft.operators.Dedup.words(col(textCol)),
        w => w =!= lit(""))).as("_w"))
    val tw = words.groupBy("_t", "_w").agg(count(lit(1)).as("_c"))
    val a = tw.where(col("_t")).select(col("_w"), col("_c").as("_ca"))
    val b = tw.where(!col("_t")).select(col("_w"), col("_c").as("_cb"))
    val j = a.join(b, Seq("_w"), "full_outer")
      .select(col("_w").as("word"),
        coalesce(col("_ca"), lit(0L)).as("_a"),
        coalesce(col("_cb"), lit(0L)).as("_b"))
    val tot = j.agg(sum(col("_a")).as("_na"), sum(col("_b")).as("_nb"))
    val ad = col("_a").cast("double"); val bd = col("_b").cast("double")
    val nad = col("_na").cast("double"); val nbd = col("_nb").cast("double")
    val abd = (col("_a") + col("_b")).cast("double")
    val nd = (col("_na") + col("_nb")).cast("double")
    val ll =
      when(col("_a") > 0, ad * log(ad / (nad * abd / nd))).otherwise(lit(0.0)) +
      when(col("_b") > 0, bd * log(bd / (nbd * abd / nd))).otherwise(lit(0.0))
    val rateA = when(col("_na") > 0, ad / nad).otherwise(lit(0.0))
    val rateB = when(col("_nb") > 0, bd / nbd).otherwise(lit(0.0))
    val sg = when(rateA >= rateB, lit(1.0)).otherwise(lit(-1.0))
    j.where(col("_a") + col("_b") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("word"), col("_a").as("cnt_target"),
        col("_b").as("cnt_rest"),
        round(sg * lit(2.0) * ll, 6).as("g2"))
      .orderBy(col("g2").desc, col("word"))
      .limit(k)
  }

  /** Per-group rank-defined score BUCKETS — the CCNet head/middle/tail
    * split generalized: `fractions` are cumulative cut fractions (e.g.
    * Seq(1/3, 2/3) → 3 buckets), and bucket b holds the rows between
    * cuts b−1 and b in score order (bucket 0 = the best `fractions(0)`
    * of each group). `ascending = true` ranks best-first by SMALLEST
    * score (CCNet: lowest perplexity = head). Appends `score` and
    * `bucket` (0-based; null score → null bucket).
    *
    * Thresholds are RANK-defined exactly like [[percentileGate]]
    * (largest/smallest score with ≥ ceil(f·n) rows at or better than
    * it; ties at a cut land in the better bucket) — pure integer
    * counting over the score grid, no interpolated quantiles, so a SQL
    * oracle replays it bit-for-bit. Pass a grid-aligned (rounded)
    * score.
    *
    * Scale shape: identical to [[percentileGate]] — ONE compressed
    * (group, score) histogram aggregate feeds one window over distinct
    * scores; the per-fraction thresholds join into a single
    * groups×fractions table (broadcast back), and bucket assignment is
    * a map-side comparison sum. The corpus is never sorted or windowed. */
  def rankBuckets(df: DataFrame, groupCol: String, scoreCol: Column,
                  fractions: Seq[Double],
                  ascending: Boolean = false): DataFrame = {
    val scored = df.withColumn("score", scoreCol)
    val hist = scored.where(col("score").isNotNull)
      .groupBy(col(groupCol), col("score")).agg(count(lit(1)).as("_c"))
    assignBuckets(scored, groupCol,
      bucketThresholdsFromHistogram(hist, groupCol, fractions, ascending),
      fractions, ascending)
  }

  /** [[rankBuckets]]' per-fraction cuts from a compressed (group,
    * score, count) histogram — the streaming-store fold (see
    * [[gateThresholdsFromHistogram]]). One row per group:
    * (groupCol, _thr0.._thrN). */
  private[graft] def bucketThresholdsFromHistogram(hist: DataFrame,
      groupCol: String, fractions: Seq[Double],
      ascending: Boolean): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    require(fractions.forall(f => f > 0 && f < 1),
      s"fractions must be in (0, 1): $fractions")
    require(fractions == fractions.sorted && fractions.distinct == fractions,
      s"fractions must be strictly increasing: $fractions")
    val n = hist.groupBy(groupCol).agg(sum(col("_c")).as("_n"))
    val ord = if (ascending) col("score").asc else col("score").desc
    val cum = hist.withColumn("_cum",
      sum(col("_c")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(groupCol).orderBy(ord)))
    fractions.zipWithIndex.map { case (f, j) =>
      val atCut = cum.join(n, Seq(groupCol))
        .where(col("_cum") >= ceil(lit(f) * col("_n")))
      val agg = if (ascending) min(col("score")) else max(col("score"))
      atCut.groupBy(groupCol).agg(agg.as(s"_thr$j"))
    }.reduce((a, b) => a.join(b, Seq(groupCol)))
  }

  /** Map-side bucket assignment against broadcast [[
    * bucketThresholdsFromHistogram]] cuts. `scored` must carry `score`. */
  private[graft] def assignBuckets(scored: DataFrame, groupCol: String,
      thrs: DataFrame, fractions: Seq[Double],
      ascending: Boolean): DataFrame = {
    val pastCut = fractions.indices.map { j =>
      val past = if (ascending) col("score") > col(s"_thr$j")
                 else col("score") < col(s"_thr$j")
      when(past, 1).otherwise(0)
    }.reduce(_ + _)
    scored.join(broadcast(thrs), Seq(groupCol), "left")
      .withColumn("bucket",
        when(col("score").isNull, lit(null)).otherwise(pastCut).cast("long"))
      .drop(fractions.indices.map(j => s"_thr$j"): _*)
  }

  /** Language-ID heuristic: distinctive-stopword hit counts per language,
    * with script short-circuits for the CJK family — kana → ja (Japanese
    * text mixes Han with kana, so kana is checked FIRST), Hangul → ko,
    * remaining Han → zh; ties broken by a fixed priority order. N-gram
    * frequency profiles would be the production path; the shape
    * (map-side scoring, argmax) is the same. Scripts without a marker
    * list (Cyrillic, Arabic, …) guess 'und' — honest abstention, not a
    * wrong label. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "que", "los"),
    "fr" -> Seq("le", "et", "les"))

  def langScore(c: Column, lang: String): Column =
    LangMarkers.toMap.apply(lang).map(w => wordOccurrences(c, w))
      .reduce(_ + _)

  /** Argmax over precomputed per-language score COLUMNS (one
    * `least(struct)` — max score, ties to the first language in
    * `LangMarkers` order, 'und' when every score is 0). Use this form in
    * projections that also emit the scores: the naive when-chain expands
    * every score subtree inside conditional branches, where Spark's
    * subexpression elimination cannot reach (branches evaluate lazily) —
    * the q_t3-shaped projection generated a >64 KB method that failed
    * Janino compilation and silently fell back to interpreted eval. */
  def langGuessFromScores(text: Column, scores: Seq[Column]): Column = {
    val cands = scores.zipWithIndex.map { case (s, i) =>
      struct((-s).as("negs"), lit(i).as("idx"))
    }
    val bst = least(cands: _*)
    val pick = when(bst.getField("negs") < 0,
      element_at(typedlit(LangMarkers.map(_._1)), bst.getField("idx") + 1))
      .otherwise(lit("und"))
    when(text.rlike("[぀-ヿㇰ-ㇿ]"), lit("ja"))
      .when(text.rlike("[가-힣]"), lit("ko"))
      .when(text.rlike("[一-鿿㐀-䶿]"), lit("zh"))
      .otherwise(pick)
  }

  def langGuess(c: Column): Column =
    langGuessFromScores(c, LangMarkers.map { case (l, _) => langScore(c, l) })

  /** Document fingerprint: hash of the alphanumeric-normalized text —
    * the exact-dedup key (S/F analog of a rolling-hash fingerprint). */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(c, "[^\\p{L}\\p{M}\\p{N}]+", "")))

  /** Fill-in-the-middle transform (Bavarian et al. 2022, arXiv
    * 2207.14255) — the code-LM training-data prep step: a gated share
    * of documents is deterministically split into (prefix, middle,
    * suffix) at two hash-derived codepoint cuts and re-emitted in PSM
    * order with sentinel tokens, so an autoregressive model learns
    * infilling from plain next-token prediction. Everything is a pure
    * map-side expression over (id, text): the gate is the q_x1
    * hash-threshold discipline (reproducible membership at exactly
    * ⌊rate·2^24⌋), the two cuts are independent hashes mod (len+1)
    * ordered by least/greatest, and the rewrite is three substrings —
    * deterministic, shuffle-free, engine-replayable. Untransformed docs
    * pass through verbatim (`fim_applied` = 0), matching the standard
    * practice of mixing FIM and plain documents at a fixed rate.
    * Output: (idCol, fim_applied, text_out). */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   fimRate: Double = 0.5, salt: String = "fim",
                   preTok: String = "<PRE>", midTok: String = "<MID>",
                   sufTok: String = "<SUF>"): DataFrame = {
    require(fimRate >= 0 && fimRate <= 1, s"fimRate in [0,1]: $fimRate")
    import graft.operators.Sampling.hash24
    val id = col(idCol)
    val n = length(col(textCol))
    val a = hash24(id, salt + ".a") % (n + lit(1))
    val b = hash24(id, salt + ".b") % (n + lit(1))
    val lo = least(a, b).cast("int")
    val hi = greatest(a, b).cast("int")
    val gate = hash24(id, salt) < lit(math.floor(fimRate * (1 << 24)).toLong)
    // PSM order: prefix, suffix, middle — the model sees both sides
    // before generating the hole
    val psm = concat(lit(preTok), col(textCol).substr(lit(1), lo),
      lit(sufTok), col(textCol).substr(hi + lit(1), n - hi),
      lit(midTok), col(textCol).substr(lo + lit(1), hi - lo))
    df.select(id, when(gate, lit(1L)).otherwise(lit(0L)).as("fim_applied"),
      when(gate, psm).otherwise(col(textCol)).as("text_out"))
  }

  // ---- PII scrubbing -------------------------------------------------------

  /** Patterns kept to the Java↔RE2 common subset so the DuckDB oracle
    * evaluates them identically (no lookaround, no backrefs). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Replace email addresses and phone-shaped digit runs with placeholder
    * tokens — the standard pre-training scrub pass. Emails first (their
    * local parts can contain digits that would otherwise be half-eaten by
    * the phone pattern). Map-side codegen'd regex, no shuffle. */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Match counts per document (audit metric for the scrub pass). */
  def emailCount(c: Column): Column = regexp_count(c, lit(EmailRe)).cast("long")
  def phoneCount(c: Column): Column =
    regexp_count(regexp_replace(c, EmailRe, "<EMAIL>"), lit(PhoneRe)).cast("long")

  // ---- HTML boilerplate stripping -----------------------------------------

  /** Patterns kept to the Java↔RE2 common subset (inline (?is) flags,
    * non-greedy spans, no lookaround) so the DuckDB oracle evaluates
    * them identically. */
  val ScriptRe = "(?is)<(script|style)[^>]*>.*?</(script|style)>"
  val TagRe = "(?s)<[^>]*>"

  /** Strip HTML to text — the web-corpus boilerplate pass: drop
    * script/style blocks WITH their contents, drop every remaining tag,
    * decode the five standard entities, collapse whitespace runs to one
    * space, trim. A regex chain, not a parser — the deliberately
    * engine-replayable 80% of extraction (a real DOM pipeline slots in
    * behind the same column contract). Map-side codegen'd, no shuffle. */
  def stripHtml(c: Column): Column = {
    val noBlocks = regexp_replace(c, ScriptRe, " ")
    val noTags = regexp_replace(noBlocks, TagRe, " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Tag count BEFORE stripping (audit metric for the pass). */
  def htmlTagCount(c: Column): Column =
    regexp_count(c, lit(TagRe)).cast("long")

  // ---- repetition metrics --------------------------------------------------

  /** Gopher-style repetition metrics per document — the "is this text
    * degenerate boilerplate" filter family: duplicate-word fraction
    * (1 − distinct/total), top-word fraction, and top-bigram fraction.
    * High values flag the repeated-phrase spam that survives naive
    * quality scores. Output: (id, n_words, n_uniq_words, dup_word_frac,
    * top_word_frac, top_bigram_frac).
    *
    * Scale shape: one posexplode + a within-doc window `lead` for the
    * bigram stitch (same codegen'd pattern as the shingle pipeline), then
    * two hash aggregates (word counts, bigram counts) — all map-side
    * combinable, shuffle ∝ distinct (doc, gram) rows, no pairing. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol).as("id"),
      posexplode(Dedup.words(col(textCol))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val wordAgg = tok.groupBy("id", "w").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(sum("c").as("n_words"),
        count(lit(1)).as("n_uniq_words"), max("c").as("top_word_n"))
    val bigrams = tok
      .select(col("id"), col("w"), lead(col("w"), 1).over(byDoc).as("w2"))
      .where(col("w2").isNotNull)
      .select(col("id"), concat_ws(" ", col("w"), col("w2")).as("bg"))
    val bgAgg = bigrams.groupBy("id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_n"))
    wordAgg.join(bgAgg, Seq("id"), "left")
      .select(col("id"), col("n_words"), col("n_uniq_words"),
        round(lit(1.0d) - col("n_uniq_words").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"), 6).as("dup_word_frac"),
        round(col("top_word_n").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"), 6).as("top_word_frac"),
        round(coalesce(col("top_bigram_n"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("top_bigram_frac"))
  }

  /** PMI collocations — the corpus's strongest word associations:
    * pointwise mutual information ln(c_ab·N / (c_a·c_b)) over adjacent
    * word pairs, where c_a / c_b are the word's occurrences as a LEFT /
    * RIGHT bigram member and N the total bigram count (the standard
    * collocation-extraction statistic for vocabulary and tokenizer
    * work — "new york" scores high, "of the" low, despite both being
    * frequent). `minCount` drops the unstable low-support tail before
    * ranking; output is the k strongest by (pmi desc, bigram asc).
    *
    * Scale shape: one tokenize pass → within-doc `lead` window (the
    * repetitionStats bigram stitch — per-doc partitions, bounded by doc
    * length) → ONE (w1, w2) hash aggregate; the marginals are two
    * re-aggregations of that bigram-count frame (rows ∝ distinct
    * bigrams, not occurrences) joined back on the word key. The PMI
    * arithmetic runs in doubles with one fixed operation order
    * ((c_ab·N)/(c_a·c_b), one ln, one round) so the DuckDB oracle
    * replays it bit-for-bit; counts stay exact BIGINTs. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 5L, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(k >= 1, s"k must be >= 1: $k")
    val tok = df.select(col(idCol).as("id"),
      posexplode(Dedup.words(col(textCol))).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val bg = tok
      .select(col("id"), col("w").as("w1"),
        lead(col("w"), 1).over(byDoc).as("w2"))
      .where(col("w2").isNotNull)
    val cab = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val n = cab.agg(sum(col("c_ab")).as("_n"))
    val ca = cab.groupBy("w1").agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy("w2").agg(sum(col("c_ab")).as("c_b"))
    cab.where(col("c_ab") >= minCount)
      .join(ca, Seq("w1")).join(cb, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        round(log((col("c_ab").cast("double") * col("_n").cast("double"))
          / (col("c_a").cast("double") * col("c_b").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  // ---- chunking --------------------------------------------------------------

  /** Split documents into word-bounded training chunks of `chunkWords`
    * words stepping by `chunkWords - overlapWords` (the context-window
    * packing step: long docs become overlapping windows, short docs one
    * chunk). Output: (id, chunk_idx, n_words, chunk). Pure per-row array
    * arithmetic — no shuffle, no pairing; the higher-order functions here
    * run once per DOCUMENT (not per shingle), so interpreted evaluation
    * is immaterial next to the scan. */
  def chunkWords(df: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int, overlapWords: Int = 0): DataFrame = {
    require(chunkWords > 0 && overlapWords >= 0 && overlapWords < chunkWords,
      "need chunkWords > overlapWords >= 0")
    val step = chunkWords - overlapWords
    val w = Dedup.words(col(textCol))
    // chunk starts: 0, step, 2·step, … while the chunk still contributes
    // at least one NEW word (start < n − overlap); ≥ 1 chunk always, so
    // every document survives chunking
    val starts = sequence(lit(0),
      greatest((size(w) - 1 - lit(overlapWords)) / lit(step), lit(0)).cast("int"))
    df.select(col(idCol).as("id"), w.as("_ws"),
        posexplode(starts).as(Seq("chunk_idx", "_s")))
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("_ws"), col("_s") * step + 1, lit(chunkWords)).as("_cw"))
      .select(col("id"), col("chunk_idx"),
        size(col("_cw")).cast("long").as("n_words"),
        array_join(col("_cw"), " ").as("chunk"))
  }

  // ---- heavy hitters -------------------------------------------------------

  /** Boilerplate/template detection: n-word shingles whose DOCUMENT
    * frequency is ≥ minDocs. One hash groupBy over the distinct per-doc
    * shingle rows — shuffle ∝ distinct shingles, exact at any scale with
    * enough reducers. For unbounded/streaming corpora where per-key state
    * is the constraint, `graft.functions.CountMin` estimates the same
    * statistic in a fixed-size table. */
  def heavyShingles(df: DataFrame, idCol: String, textCol: String, n: Int,
                    minDocs: Long): DataFrame =
    Dedup.shingleRows(df, idCol, textCol, n)
      .groupBy(col("s").as("shingle"))
      .agg(count(lit(1)).as("doc_freq"))
      .where(col("doc_freq") >= minDocs)

  // ---- line-level dedup ----------------------------------------------------

  /** C4-style boilerplate LINE dedup: drop every line whose document
    * frequency across the corpus is ≥ `minDocFreq`, then rebuild each
    * document from its surviving lines in original order (the C4
    * pipeline's repeated-line filter; no reference analogue — training-
    * pipeline superset scope, complementary to document-level dedup:
    * it strips shared boilerplate out of otherwise-distinct documents).
    * Blank lines are never counted or dropped. Returns one row per input
    * document: (id, clean_text, n_kept, n_dropped) — clean_text is empty
    * when every line was boilerplate.
    *
    * Scale shape: three hash exchanges. (1) doc-frequency count on the
    * 16-byte md5 of each line — the line TEXT never crosses this wire;
    * (2) anti-join of the exploded lines against the heavy-line set
    * (small whenever boilerplate is rare — AQE broadcasts it; a plain
    * equi-join otherwise); (3) the per-doc rebuild aggregate. Memory is
    * bounded by one document's lines. */
  def dropRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                        minDocFreq: Long, sep: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), sepRe)))
      .toDF("id", "pos", "line")
      .withColumn("lh", md5(col("line")))
    val heavy = lines.where(trim(col("line")) =!= "")
      .groupBy("lh").agg(countDistinct(col("id")).as("doc_freq"))
      .where(col("doc_freq") >= minDocFreq)
      .select("lh")
    val rebuilt = lines.join(heavy, Seq("lh"), "left_anti")
      .groupBy("id")
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), sepRe)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  // ---- markup stripping ----------------------------------------------------

  /** Strip HTML/XML markup for text curation: drop tags, decode the five
    * predefined XML entities, DROP decimal numeric references (curation
    * wants clean tokens, not rendering — per-match chr() decode is not
    * expressible as one engine-portable regex), collapse whitespace
    * runs. Regex-level stripping (the standard cheap pass a
    * web-scrape pipeline runs at scan speed — NOT an HTML parser: a `>`
    * inside a quoted attribute value ends the tag early, script/style
    * BODIES survive; run a real parser upstream if those matter).
    * RE2-portable patterns and literal replaces only, so the whole
    * transform replays in the DuckDB oracle. `&amp;` decodes LAST —
    * decoding it first would double-decode `&amp;lt;` into `<`. */
  def stripMarkup(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val numeric = regexp_replace(noTags, "&#([0-9]+);", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(numeric) { case (acc, (ent, ch)) =>
        call_function("replace", acc, lit(ent), lit(ch))
      }
    // explicit class, not \s: Java's \s matches vertical tab, RE2's
    // (DuckDB's) does not — the oracle needs ONE pinned semantics
    trim(regexp_replace(decoded, "[ \\t\\n\\x0B\\f\\r]+", " "))
  }

  // ---- quality classifier inference ---------------------------------------

  /** fastText-style linear classifier INFERENCE via the hashing trick:
    * each token hashes into one of `dim` weight buckets and the document
    * accumulates its buckets' weights — the standard learned-quality-
    * filter step of an LLM data pipeline. Weights here are derived
    * deterministically from the bucket index in integer MILLI-units (a
    * stand-in for a trained model, which at production is a broadcast
    * float array indexed by the same bucket expression); the wiring —
    * token bucketing, exact integer bag-of-buckets sum, one final
    * sigmoid — is the pipeline shape, and the integer accumulation makes
    * the sum order-independent and bit-replayable in any engine.
    * Map-side only: no shuffle, no UDF, column-prunes to the text. */
  def hashedClassifierWeightSum(c: Column, dim: Int,
                                salt: String = "graft"): Column = {
    require(dim > 0, s"dim must be positive: $dim")
    val toks = regexp_extract_all(lower(c), lit(WordPattern), lit(0))
    aggregate(toks, lit(0L), (acc, t) =>
      acc + (Sampling.hash24(concat(lit("w"),
        (Sampling.hash24(t, salt) % dim).cast("string")), salt) % 2001L
        - 1000L))
  }

  /** sigmoid(mean milli-weight) of [[hashedClassifierWeightSum]], rounded
    * onto the 1e-6 grid (the repo's decimal-grid oracle discipline). */
  def hashedClassifierScore(c: Column, dim: Int,
                            salt: String = "graft"): Column = {
    val n = greatest(size(regexp_extract_all(lower(c), lit(WordPattern),
      lit(0))), lit(1)).cast("double")
    val z = hashedClassifierWeightSum(c, dim, salt).cast("double") /
      (n * lit(1000.0d))
    round(lit(1.0d) / (lit(1.0d) + exp(-z)), 6)
  }

  /** Thresholds for [[gopherQualityFlags]] — defaults APPROXIMATE the
    * published Gopher rules (Rae et al. 2021, "Scaling Language Models",
    * §A1.1.1) under this package's portable matching, and two metrics
    * are deliberately STRICTER than the paper's:
    *
    *   - `symbol_ratio` sums the '#' and ellipsis counts into ONE ratio
    *     capped at 0.1, where the paper caps each symbol's ratio
    *     separately — a doc at 0.06 '#' + 0.06 '…' passes Gopher but
    *     fails here;
    *   - the stopword-presence test counts space-bounded occurrences
    *     (`wordOccurrences`), so a stopword adjacent to punctuation
    *     ("the," / "of.") does not count, where the paper's word
    *     tokenization would accept it.
    *
    * Both deviations only ever REJECT more (never admit a doc Gopher
    * would drop), are replayed identically by the q_t17 DuckDB oracle,
    * and keep every metric a portable RE2-class expression (the
    * wordOccurrences trick avoids lookaround, which DuckDB's RE2 lacks).
    * Tokenization throughout is this package's alnum-run word pattern
    * (see the metric scaladocs). */
  case class GopherParams(minWords: Long = 50L, maxWords: Long = 100000L,
                          minMeanWordLen: Double = 3.0,
                          maxMeanWordLen: Double = 10.0,
                          minAlphaWordFrac: Double = 0.8,
                          maxSymbolWordRatio: Double = 0.1,
                          maxBulletLineFrac: Double = 0.9,
                          maxEllipsisLineFrac: Double = 0.3,
                          minStopwordHits: Int = 2)

  /** The Gopher stopword-presence list: a document must contain at least
    * `minStopwordHits` DISTINCT of these to pass (a cheap
    * is-this-running-English-prose test). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The seven Gopher metric expressions by output name — shared by the
    * per-doc flags frame and the single-expression [[gopherKeep]]
    * predicate so the two can never drift. */
  private def gopherMetricCols(c: Column): Map[String, Column] = {
    val words = regexp_extract_all(cjkSpaced(c), lit(WordPattern), lit(0))
    val nWords = size(words).cast("long")
    val nWordsSafe = greatest(nWords, lit(1L)).cast("double")
    val meanWordLen = round(
      countMatches(c, "[\\p{L}\\p{M}\\p{N}]").cast("double") / nWordsSafe, 6)
    val alphaWordFrac = round(
      size(filter(words, w => w.rlike("\\p{L}"))).cast("double") /
        nWordsSafe, 6)
    val symbolRatio = round(
      (countMatches(c, "#") + countMatches(c, "\\.\\.\\.|…"))
        .cast("double") / nWordsSafe, 6)
    val lines = split(c, "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = round(
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double") /
        nLines, 6)
    val ellipsisFrac = round(
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
        .cast("double") / nLines, 6)
    val stopHits = GopherStopwords
      .map(w => when(wordOccurrences(lower(c), w) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    Map("n_words" -> nWords, "mean_word_len" -> meanWordLen,
      "alpha_word_frac" -> alphaWordFrac, "symbol_ratio" -> symbolRatio,
      "bullet_line_frac" -> bulletFrac,
      "ellipsis_line_frac" -> ellipsisFrac, "stop_hits" -> stopHits)
  }

  /** Metric order in the flags frame (and the q_t17 oracle). */
  private val GopherMetricNames = Seq("n_words", "mean_word_len",
    "alpha_word_frac", "symbol_ratio", "bullet_line_frac",
    "ellipsis_line_frac", "stop_hits")

  /** The composite keep rule over metric columns resolved by `m`. */
  private def gopherKeepOf(m: String => Column, p: GopherParams): Column =
    m("n_words").between(p.minWords, p.maxWords) &&
      m("mean_word_len").between(p.minMeanWordLen, p.maxMeanWordLen) &&
      m("alpha_word_frac") >= p.minAlphaWordFrac &&
      m("symbol_ratio") < p.maxSymbolWordRatio &&
      m("bullet_line_frac") < p.maxBulletLineFrac &&
      m("ellipsis_line_frac") < p.maxEllipsisLineFrac &&
      m("stop_hits") >= p.minStopwordHits

  /** The Gopher verdict as ONE boolean expression over the raw text
    * column — the row-preserving form a streaming ingest (or any
    * single-pass gate) filters on directly, with no metrics frame and
    * no join. Identical rule set to [[gopherQualityFlags]] by shared
    * construction (both read [[gopherMetricCols]]). */
  def gopherKeep(textCol: Column,
                 p: GopherParams = GopherParams()): Column =
    gopherKeepOf(gopherMetricCols(textCol), p)

  /** Gopher-style quality rules — the published heuristic filter set a
    * pretraining corpus runs before any model-based scoring: word-count
    * band, mean-word-length band, minimum fraction of words containing
    * a letter, symbol-to-word ratio cap ('#' and '…'/'...'), bullet- and
    * ellipsis-line fraction caps, and distinct-stopword presence.
    *
    * Everything is a map-side expression over the text column — no
    * shuffle, no UDF; at 100 TB this is a pure scan stage that fuses
    * into whatever reads the corpus next. The two per-word/per-line
    * fractions use higher-order `filter` over the tokenized arrays
    * (CodegenFallback, but per-row over ~100-element arrays — unlike the
    * per-shingle aggregates where this package avoids HOFs, there is no
    * 100× blowup surface here) and every metric lands on the 1e-6
    * decimal grid so the DuckDB oracle replays it exactly.
    *
    * Output per doc: `id`, the six metrics, `stop_hits`, and the
    * composite `keep`. Empty/wordless docs keep = false via the
    * word-count band (divisions are guarded, never null). */
  def gopherQualityFlags(df: DataFrame, idCol: String, textCol: String,
                         p: GopherParams = GopherParams()): DataFrame =
    gopherMetrics(df, idCol, textCol).withColumn("keep", gopherKeep(p))

  /** The PARAMETER-FREE half of [[gopherQualityFlags]]: one row per doc
    * with the seven metric columns and no verdict — the compute-on-raw-
    * once artifact a pipeline shares across consumers with DIFFERENT
    * thresholds (round-15: per-doc metrics are a pure function of the
    * text, so one corpus pass serves every gate). Apply
    * [[gopherKeep(p)*]] to get any param set's verdict; by shared
    * construction ([[gopherMetricCols]] both here and in the one-column
    * [[gopherKeep]]), thresholds over these ROUNDED metric columns are
    * exactly the flags frame's own keep. */
  def gopherMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val m = gopherMetricCols(col(textCol))
    df.select(col(idCol).as("id") +:
        GopherMetricNames.map(n => m(n).as(n)): _*)
  }

  /** The [[gopherQualityFlags]] keep rule as a Column over a
    * [[gopherMetrics]]-shaped frame's columns (resolved by name). */
  def gopherKeep(p: GopherParams): Column = gopherKeepOf(col, p)

  /** Per-document TF-IDF keyword extraction: the `topK` highest-scoring
    * terms of each document under tf·idf with idf = ln(N/df) (N = docs
    * with ≥ 1 token, df = docs containing the term) — the standard
    * corpus-analysis "what is this document about" op (tag clouds,
    * facets, weak labels).
    *
    * Scale shape: tf is one hash aggregate over exploded tokens; df
    * falls out of tf for free (tf rows are distinct (doc, term) pairs —
    * `groupBy(term).count`, no countDistinct); N rides in as a broadcast
    * 1-row aggregate; per-doc top-k is the k-bounded `BoundedTopK`
    * aggregate (state ∝ k, one exchange, never a window). Ties break by
    * term ascending; scores round onto the 1e-6 grid with `+ 0.0`
    * signed-zero canonicalization (df = N ⇒ score exactly 0). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int = 5): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val tok = docs.select(col(idCol).as("_tt_id"),
        explode(array(filter(Dedup.words(col(textCol)),
          w => w =!= lit("")))).as("_ws"))
      .select(col("_tt_id"), explode(col("_ws")).as("_t"))
    val tf = tok.groupBy("_tt_id", "_t").agg(count(lit(1)).as("_n"))
    val df = tf.groupBy("_t").agg(count(lit(1)).as("_df"))
    val n = tf.agg(countDistinct(col("_tt_id")).as("_nd"))
    val scored = tf.join(df, Seq("_t")).crossJoin(broadcast(n))
      .select(col("_tt_id"), col("_t"),
        round(col("_n") * log(col("_nd").cast("double") /
          col("_df").cast("double")), 6).as("_s"))
    scored.groupBy("_tt_id")
      .agg(graft.functions.BoundedTopK.smallestK(
        struct((-col("_s")).as("negs"), col("_t")), topK).as("_tk"))
      .select(col("_tt_id"), posexplode(col("_tk")))
      .select(col("_tt_id").as(idCol),
        (col("pos") + 1).cast("long").as("rank"),
        col("col._t").as("word"),
        (-col("col.negs") + lit(0.0)).as("score"))
  }

  /** CCNet-style bigram language-model scoring — the standard LM-quality
    * filter of an LLM curation pipeline (train an n-gram LM on the
    * corpus, keep documents whose perplexity under it is low): per
    * document, the average negative log-likelihood (nats) of its word
    * bigrams under an add-k-smoothed bigram model fit on the SAME corpus
    * pass. nll(w1 w2) = ln(c(w1·) + k·V) − ln(c(w1 w2) + k), V = corpus
    * vocabulary size, c(w1·) = bigram-start count.
    *
    * Scale shape: the "training" is two hash aggregates (bigram and
    * bigram-start counts — map-side combinable); scoring joins each
    * bigram OCCURRENCE to the model row by (w1, w2) equi-key, so the
    * model is never collected or broadcast (a web-corpus vocabulary
    * doesn't fit a broadcast; hot heads like "the" are exactly the AQE
    * skew-join case). V rides in as a broadcast 1-row aggregate, not a
    * driver constant. Cross-engine hash discipline: per-bigram nll is
    * rounded onto the 1e-6 grid and summed as DECIMAL (exact in any
    * partition order — the moneySum pattern), and the per-doc average is
    * one double division rounded once; `ln` is the same libm-grade call
    * the proven BM25 oracle already replays in DuckDB. Docs with < 2
    * tokens keep their row: n_bigrams = 0, avg_nll null. */
  def bigramLm(docs: DataFrame, idCol: String, textCol: String,
               k: Double = 0.5): DataFrame = {
    require(k > 0, s"smoothing k must be positive: $k")
    val (base, big) = lmBigramRows(docs, idCol, textCol)
    val c1 = big.groupBy("_w1").agg(count(lit(1)).as("_c1"))
    val c12 = big.groupBy("_w1", "_w2").agg(count(lit(1)).as("_c12"))
    val vocab = base.select(explode(col("_ws")).as("_w"))
      .agg(countDistinct(col("_w")).as("_v"))
    // one model row per DISTINCT bigram (not per occurrence): the ln is
    // evaluated once per model row, occurrences join the finished score
    val model = c12.join(c1, Seq("_w1"))
      .crossJoin(broadcast(vocab))
      .select(col("_w1"), col("_w2"),
        round(log(col("_c1").cast("double") + lit(k) * col("_v").cast("double"))
          - log(col("_c12").cast("double") + lit(k)), 6)
          .cast("decimal(28,6)").as("_nll"))
    val agg = big.join(model, Seq("_w1", "_w2"))
      .groupBy("_lm_id")
      .agg(count(lit(1)).as("_n"), sum(col("_nll")).as("_snll"))
    docs.select(col(idCol))
      .join(agg, col(idCol) === col("_lm_id"), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_bigrams"),
        meanOnGrid6(col("_snll"), col("_n")).as("avg_nll"))
  }

  /** A non-negative DECIMAL(·,6) sum's mean over `n`, rounded half-up
    * onto the 6-decimal grid in exact integer arithmetic:
    * m = (2·sum·10⁶ + n) div 2n, then m / 10⁶. The oracles replay the
    * same integer formula, so both engines return the same double.
    * Rounding the double quotient instead is not portable: Spark rounds
    * its shortest decimal string, DuckDB the binary value, so an exact
    * .5 tie at the 7th decimal (34.382895 / 10) splits them. */
  private[graft] def meanOnGrid6(sum: Column, n: Column): Column =
    call_function("div", (sum * 1000000).cast("long") * 2 + n, n * 2)
      .cast("double") / 1e6

  /** (words-array rows, bigram-occurrence rows) behind a Generate
    * boundary (the Dedup.withWords trick): a plain projection would let
    * CollapseProject re-inline the regexp tokenizer into every
    * element_at/size lambda across the consumers — the measured ~25×
    * trap Dedup.shinglesFromWords documents. */
  private def lmBigramRows(docs: DataFrame, idCol: String,
                           textCol: String): (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("_lm_id"),
      explode(array(filter(Dedup.words(col(textCol)),
        w => w =!= lit("")))).as("_ws"))
    val big = base.select(col("_lm_id"),
      explode(when(size(col("_ws")) >= 2,
        transform(sequence(lit(1), size(col("_ws")) - 1),
          i => struct(element_at(col("_ws"), i).as("w1"),
            element_at(col("_ws"), i + 1).as("w2"))))).as("_b"))
      .select(col("_lm_id"), col("_b.w1").as("_w1"), col("_b.w2").as("_w2"))
    (base, big)
  }

  /** A frozen bigram-LM model: count tables, not scores, so any
    * smoothing k can be applied at SCORE time and unseen bigrams get
    * their faithful add-k mass. Persist the three frames as parquet to
    * make the model a servable artifact (the DedupIndex pattern). */
  case class BigramLmModel(bigrams: DataFrame, starts: DataFrame,
                           vocab: DataFrame)

  /** Train the count model only — (w1,w2) bigram counts, w1 start
    * counts, vocabulary size. Two map-side-combinable hash aggregates +
    * one bounded distinct, exactly bigramLm's training half. */
  def bigramLmTrain(docs: DataFrame, idCol: String,
                    textCol: String): BigramLmModel = {
    val (base, big) = lmBigramRows(docs, idCol, textCol)
    BigramLmModel(
      big.groupBy("_w1", "_w2").agg(count(lit(1)).as("_c12")),
      big.groupBy("_w1").agg(count(lit(1)).as("_c1")),
      base.select(explode(col("_ws")).as("_w"))
        .agg(countDistinct(col("_w")).as("_v")))
  }

  /** Score ANY corpus against a FROZEN model — the CCNet serving shape
    * (train on the reference domain, score the crawl): every bigram
    * occurrence gets nll = ln(c1 + kV) − ln(c12 + k) with MISSING
    * counts at their true add-k zero (novel bigrams and novel start
    * words both get faithful smoothed mass — no inner-join drop, no
    * flat UNK class). Output: (id, n_bigrams, n_unk, avg_nll) — n_unk
    * counts model-unseen bigrams, the domain-shift gauge.
    *
    * Scoring the training corpus against its own model reproduces
    * [[bigramLm]] exactly (spec-gated): there every c12 ≥ 1, so the
    * coalesce-0 path never fires and the formulas coincide.
    *
    * Scale shape: two equi-joins on word keys (left joins — scoring
    * never shrinks the corpus) + one broadcast 1-row vocab; the two
    * `ln`s are codegen'd per occurrence. Round-6 DECIMAL sums as
    * everywhere. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    model: BigramLmModel, k: Double = 0.5): DataFrame = {
    require(k > 0, s"smoothing k must be positive: $k")
    val (_, big) = lmBigramRows(docs, idCol, textCol)
    val scored = big
      .join(model.bigrams, Seq("_w1", "_w2"), "left")
      .join(model.starts, Seq("_w1"), "left")
      .crossJoin(broadcast(model.vocab))
      .select(col("_lm_id"),
        round(log(coalesce(col("_c1"), lit(0L)).cast("double")
            + lit(k) * col("_v").cast("double"))
          - log(coalesce(col("_c12"), lit(0L)).cast("double") + lit(k)), 6)
          .cast("decimal(28,6)").as("_nll"),
        col("_c12").isNull.cast("long").as("_miss"))
    val agg = scored.groupBy("_lm_id")
      .agg(count(lit(1)).as("_n"), sum(col("_nll")).as("_snll"),
        sum(col("_miss")).as("_nu"))
    docs.select(col(idCol))
      .join(agg, col(idCol) === col("_lm_id"), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_bigrams"),
        coalesce(col("_nu"), lit(0L)).as("n_unk"),
        meanOnGrid6(col("_snll"), col("_n")).as("avg_nll"))
  }
}
