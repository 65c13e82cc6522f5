package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Md5Prefix, NGrams}

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Everything here is a PURE FUNCTION of the row's id (via md5), never of
  * Spark's RNG, partitioning, or cluster size — so train/test membership
  * is reproducible across runs, engines (the DuckDB oracle replicates the
  * same arithmetic), repartitions, and 1000-executor scale-out. This is
  * the property `df.sample`/`randomSplit` do NOT have (their membership
  * changes with partition layout), and the one a 100 TB corpus needs:
  * re-running a split tomorrow on different hardware must yield the same
  * assignment per document.
  */
object Sampling {

  /** 24-bit uniform hash in [0, 2^24) from md5(id + "|" + salt): the
    * top 24 bits of the digest ([[graft.functions.Md5Prefix]] at k = 6,
    * the oracle's `substr(md5(...), 1, 6)`). 24 bits keep the value
    * exactly representable everywhere (no sign/overflow edge) while
    * giving ~6e-8 fraction granularity. */
  def hash24(id: Column, salt: String): Column =
    Md5Prefix(concat(id.cast("string"), lit("|" + salt)), 6)

  /** 60-bit uniform hash in [0, 2^60): the top 60 bits of md5
    * ([[graft.functions.Md5Prefix]] at k = 15, the oracle's
    * `substr(md5(...), 1, 15)`) — the engine-portable stand-in for
    * xxhash64 wherever a hash VALUE must replay bit-for-bit in the
    * DuckDB oracle (MinHash permutations, SimHash bit sources). 60 bits
    * stay positive in an int64 on every engine; collision odds at 2^60
    * are below every other nondeterminism in the pipeline. */
  def hash60(c: Column): Column = Md5Prefix(c, 15)

  private def threshold(fraction: Double): Long = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    math.floor(fraction * (1L << 24)).toLong
  }

  /** Deterministic Bernoulli sample: keeps rows whose hash falls below
    * fraction·2^24. Map-side only — no shuffle, pushes down as a plain
    * filter. Different salts give independent samples. */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double,
                   salt: String = "graft"): DataFrame =
    df.where(hash24(col(idCol), salt) < threshold(fraction))

  /** Train/test split label: "test" iff hash < testFraction·2^24. One
    * map-side projection; `split` is reproducible per id forever. */
  def withSplit(df: DataFrame, idCol: String, testFraction: Double,
                salt: String = "graft"): DataFrame =
    df.withColumn("split",
      when(hash24(col(idCol), salt) < threshold(testFraction), lit("test"))
        .otherwise(lit("train")))

  /** Per-group cap ("deterministic reservoir"): the `n` rows with the
    * smallest (hash, id) per group survive. Backed by the k-bounded
    * `BoundedTopK` aggregate (via GroupTopN) — state ∝ n per group with
    * map-side partial combine — so a hot group (half the corpus in one
    * language) never funnels through a single task's sort or buffers its
    * full row list. Returns (group, id) keeper pairs; semi-join to
    * materialize the rows. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String, n: Int,
                  salt: String = "graft"): DataFrame = {
    require(n > 0, "n must be positive")
    val item = struct(hash24(col(idCol), salt).as("h"), col(idCol).as("id"))
    GroupTopN.smallestPerKey(df, groupCol, item, n)
      .select(col(groupCol), explode(col("_top.id")).as(idCol))
  }

  /** Quality-ranked per-group cap: the n BEST rows per group by
    * (score desc, id asc) — "take the top N docs per domain", the
    * quality-aware sibling of [[capPerGroup]]'s uniform reservoir. Same
    * k-bounded `BoundedTopK` shape: state ∝ n per group, map-side
    * partial combine, one exchange, no window. Returns (group, id,
    * score) keeper rows; semi-join to materialize. Pass a GRID-ALIGNED
    * (rounded) score so tie order is engine-reproducible. */
  def capPerGroupByScore(df: DataFrame, groupCol: String, idCol: String,
                         scoreCol: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    // -score + 0.0 canonicalizes -0.0 (the topKPerQuery discipline)
    val item = struct((-scoreCol + lit(0.0)).as("negs"),
      col(idCol).as("id"), scoreCol.as("s"))
    GroupTopN.smallestPerKey(df, groupCol, item, n)
      .select(col(groupCol), explode(col("_top")).as("_it"))
      .select(col(groupCol), col("_it.id").as(idCol),
        col("_it.s").as("score"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis, the
    * exponential-clock form): each row draws key = −ln(u)/w with u a
    * deterministic uniform hash of (id, salt) in (0, 1], and the k
    * SMALLEST keys per group are exactly a weight-proportional
    * without-replacement sample — the randomized middle ground between
    * [[capPerGroup]]'s uniform reservoir and [[capPerGroupByScore]]'s
    * deterministic top-k ("prefer high-quality docs, but don't take
    * ONLY the top of the quality ranking"). Membership is a pure
    * function of (id, salt, weight), reproducible across runs and
    * partitionings like everything in this object.
    *
    * Rows with null or non-positive weight are excluded (they have no
    * sampling mass). Returns (group, id, weight, key) keeper rows with
    * weight/key rounded onto the 1e-6 grid for the oracle; selection
    * ranks the UNROUNDED key (hash-distinct u values keep competing
    * keys far beyond any libm ulp).
    *
    * Scale shape: same k-bounded `BoundedTopK` aggregate as the caps —
    * state ∝ k per group, map-side partial combine, ONE exchange, no
    * window, no corpus sort. */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
                     weightCol: Column, k: Int,
                     salt: String = "graft"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (hash24(col(idCol), salt) + lit(1L)).cast("double") /
      lit(16777216.0)
    val key = -log(u) / weightCol.cast("double")
    val item = struct(key.as("key"), col(idCol).as("id"),
      weightCol.cast("double").as("w"))
    GroupTopN.smallestPerKey(
        df.where(weightCol.isNotNull && weightCol > 0), groupCol, item, k)
      .select(col(groupCol), explode(col("_top")).as("_it"))
      .select(col(groupCol), col("_it.id").as(idCol),
        round(col("_it.w"), 6).as("weight"),
        round(col("_it.key"), 6).as("key"))
  }

  /** Stratified deterministic sample: per-group keep fractions (corpus
    * rebalancing — downsample the over-represented languages/sources,
    * keep the rare ones whole). Same hash-threshold construction as
    * `sampleByHash`, so membership is a pure function of (id, salt) —
    * map-side only, no shuffle, pushes down as a filter. Groups absent
    * from `fractions` use `defaultFraction`. */
  def stratifiedSample(df: DataFrame, groupCol: String,
                       fractions: Map[String, Double], defaultFraction: Double,
                       idCol: String, salt: String = "graft"): DataFrame = {
    val thr = fractions.foldRight(lit(threshold(defaultFraction))) {
      case ((g, f), acc) => when(col(groupCol) === g, lit(threshold(f))).otherwise(acc)
    }
    df.where(hash24(col(idCol), salt) < thr)
  }

  /** Data-recipe MIXTURE with epoch factors: realize each group at its
    * weight, where a weight above 1 OVERSAMPLES by whole copies plus a
    * fractional tail — the standard LLM data-mixing step ("web at 0.3
    * epochs, books at 2.5"). Emits one row per surviving (row, epoch)
    * with a 0-based `epoch` column, so downstream shuffling/packing can
    * tell copies apart.
    *
    * Membership is deterministic per (id, epoch, salt): epoch `e` of a
    * row survives iff hash24(id#e) < (weight − e)·2^24 — every epoch
    * below floor(weight) is kept whole (threshold ≥ 2^24), the last
    * partial epoch is an independent Bernoulli sample, and distinct
    * epochs use independent hashes. Map-side only (explode over
    * ⌈weight⌉ copy indices + filter): no shuffle, scales as
    * Σ weights · |corpus|. */
  def mixture(df: DataFrame, groupCol: String, weights: Map[String, Double],
              defaultWeight: Double, idCol: String,
              salt: String = "graft"): DataFrame = {
    (defaultWeight +: weights.values.toSeq).foreach(w =>
      require(w >= 0, s"mixture weights must be >= 0; got $w"))
    // loud, not silently overwritten (same convention as the as-of _bk
    // guard): `epoch` is this operator's OUTPUT column and `_w` its
    // scratch — a corpus already carrying either would lose data
    Seq("epoch", "_w").foreach(c =>
      require(!df.columns.contains(c),
        s"input column '$c' collides with mixture internals — alias it"))
    val w = weights.foldRight(lit(defaultWeight)) {
      case ((g, f), acc) => when(col(groupCol) === g, lit(f)).otherwise(acc)
    }
    df.withColumn("_w", w)
      // greatest(…, 1): sequence(0, -1) would DESCEND, not be empty; a
      // zero weight emits epoch 0 and the threshold filter drops it
      .withColumn("epoch",
        explode(sequence(lit(0),
          greatest(ceil(col("_w")).cast("int"), lit(1)) - 1)))
      .where(hash24(concat(col(idCol).cast("string"), lit("#"),
          col("epoch").cast("string")), salt) <
        floor((col("_w") - col("epoch")) * (1L << 24)).cast("long"))
      .drop("_w")
  }

  /** Token-budget mixture SOLVER — the planning half of [[mixture]]: given
    * per-group available tokens (aggregated from `costCol`), target
    * mixture `weights` (fractions of the budget; groups absent from the
    * map get 0), and a total token `budgetTokens`, compute per group the
    * target tokens, the sampling `epochs` to feed [[mixture]], the
    * achievable tokens under the `maxEpochs` repetition cap, and the
    * deficit the cap leaves unfilled. The cap's default follows the
    * data-constrained scaling result (Muennighoff et al. 2023: repeating
    * data up to ~4 epochs is nearly as good as fresh data; beyond that
    * returns decay fast) — a mixture plan that silently assigned 40
    * epochs to a tiny domain would be a bug, so the cap surfaces it as
    * `deficit` instead.
    *
    * Output per group: `tokens_available`, `weight`, `target_tokens`,
    * `epochs`, `achieved_tokens`, `deficit` (floats rounded 6 dp, exact
    * integer token sums underneath — fully oracled).
    *
    * Scale shape: ONE map-side-combinable sum per group; everything after
    * runs on the per-group table (thousands of rows at most). The plan →
    * [[mixture]] handoff keeps the corpus pass itself map-side. */
  def mixtureSolve(df: DataFrame, groupCol: String, costCol: Column,
                   weights: Map[String, Double], budgetTokens: Long,
                   maxEpochs: Double = 4.0): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be positive: $maxEpochs")
    weights.values.foreach(w =>
      require(w >= 0, s"mixture weights must be >= 0; got $w"))
    val avail = df.groupBy(col(groupCol))
      .agg(sum(costCol).as("tokens_available"))
    val w = weights.toSeq.sortBy(_._1).foldRight(lit(0.0d)) {
      case ((g, f), acc) => when(col(groupCol) === g, lit(f)).otherwise(acc)
    }
    avail
      .withColumn("weight", w)
      .withColumn("_target", col("weight") * budgetTokens)
      .withColumn("_epochs", when(col("tokens_available") > 0,
          least(col("_target") / col("tokens_available"), lit(maxEpochs)))
        .otherwise(lit(0.0d)))
      .select(col(groupCol), col("tokens_available"), col("weight"),
        round(col("_target"), 6).as("target_tokens"),
        round(col("_epochs"), 6).as("epochs"),
        round(col("_epochs") * col("tokens_available"), 6)
          .as("achieved_tokens"),
        round(greatest(
            col("_target") - col("_epochs") * col("tokens_available"),
            lit(0.0d)), 6).as("deficit"))
  }

  /** Temperature-scaled mixture planner — the multilingual/multi-domain
    * sampling rule (Devlin et al.'s exponent-smoothed sampling, the
    * standard fix for "English is 1000× Nepali, uniform drowns the tail
    * and proportional starves it"): group g with cost share s_g gets
    * sampling weight w_g = s_g^alpha / Σ_h s_h^alpha. alpha = 1 is
    * proportional, alpha → 0 approaches uniform; alpha = 0.5 (√-scaling)
    * uses IEEE-exact `sqrt` so the oracle replays bit-for-bit (other
    * alphas go through `pow`, whose last ulp is libm-specific — fine for
    * production, not for a hash gate). Feed the weights to
    * [[mixture]]/[[mixtureSolve]].
    *
    * Output: (group, tokens, share, weight, boost) — boost = weight /
    * share is the up/down-sampling factor (tail languages > 1).
    * Determinism: the Σ s^alpha normalizer folds the per-group terms in
    * ascending-group order (sorted-list fold, the charEntropy
    * discipline); shares divide exact integer sums.
    *
    * Scale shape: ONE cost aggregate (map-side combinable) reduced to
    * |groups| rows; the normalizer fold and re-join all happen on that
    * tiny table (collected into one list row, then re-exploded —
    * |groups| is mixture-planner-sized by definition). */
  def temperatureWeights(df: DataFrame, groupCol: String, costCol: Column,
                         alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    def powA(c: Column): Column =
      if (alpha == 0.5) sqrt(c)
      else if (alpha == 1.0) c
      else pow(c, lit(alpha))
    val tot = df.groupBy(col(groupCol).as("_g"))
      .agg(sum(costCol).as("_tokens"))
    val shared = tot
      .agg(sum(col("_tokens")).as("_total"),
        sort_array(collect_list(struct(col("_g"), col("_tokens")))).as("_rows"))
      .select(col("_rows"),
        aggregate(col("_rows"), lit(0.0), (acc, r) =>
          acc + powA(round(r.getField("_tokens").cast("double")
            / col("_total").cast("double"), 6))).as("_norm"),
        col("_total"))
    shared
      .select(explode(col("_rows")).as("_r"), col("_norm"), col("_total"))
      .select(col("_r._g").as(groupCol),
        col("_r._tokens").as("tokens"),
        round(col("_r._tokens").cast("double") / col("_total").cast("double"),
          6).as("share"),
        col("_norm"))
      .withColumn("weight", round(powA(col("share")) / col("_norm"), 6))
      .withColumn("boost", round(col("weight") / col("share"), 6))
      .drop("_norm")
  }

  /** Token-budget shard packing: within each group, rows are laid out in
    * deterministic (hash, id) order and cut into shards of ~`budget` cost
    * (token/char counts) — the "pack documents into training shards"
    * step. A row's shard is the shard its STARTING offset falls in
    * (sequential first-fit), so a shard may overflow by at most one row —
    * the standard trade for a single-pass assignment. Adds a `shard`
    * column (0-based, per group).
    *
    * Scale shape: packing is inherently sequential WITHIN a shard
    * sequence, so the group is the parallelism unit — one keyed window
    * (shuffle on group, within-partition sort), no global ordering, no
    * driver loop. For a corpus with few giant groups, pre-split the group
    * key (e.g. lang × hash-bucket) and treat each sub-group as its own
    * shard sequence. */
  def packIntoShards(df: DataFrame, groupCol: String, idCol: String,
                     costCol: String, budget: Long,
                     salt: String = "graft"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(hash24(col(idCol), salt), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("shard",
      floor((sum(col(costCol)).over(w) - col(costCol)) / lit(budget)))
  }

  /** Fixed-length training-SEQUENCE packing (GPT-style concat-and-chunk):
    * within each group, documents are concatenated in deterministic
    * (hash, id) order and cut into sequences of EXACTLY `seqLen` tokens,
    * documents splitting across sequence boundaries — the step that turns
    * a curated corpus into the dense fixed-shape batches a trainer
    * consumes (vs [[packIntoShards]], which assigns WHOLE rows to
    * ~budget-sized shards). Emits one row per (document, sequence) SPAN:
    *   seq_no     - 0-based sequence index within the group
    *   tok_start  - first token of this doc in the span (0-based, incl.)
    *   tok_end    - one past the last token (excl.; span = [start, end))
    *   seq_offset - where the span begins inside its sequence
    * Invariants (spec-gated): every sequence except each group's last
    * holds exactly `seqLen` tokens with gap-free spans; each document's
    * spans tile [0, cost) in order. Zero-cost rows emit no span.
    *
    * Scale shape: ONE keyed window (shuffle on group, within-partition
    * sort) for the running offset, then pure map-side span arithmetic —
    * the explode fans each doc to ⌈cost/seqLen⌉+1 spans at most. The
    * group is the parallelism unit (packing is sequential within a
    * sequence stream by nature); compose with a hash-bucketed group key
    * for giant corpora, exactly as [[packIntoShards]] documents. */
  def packSequences(df: DataFrame, groupCol: String, idCol: String,
                    costCol: String, seqLen: Long,
                    salt: String = "graft"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val reserved = Seq("_cum", "_start", "seq_no", "tok_start", "tok_end",
      "seq_offset").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input columns ${reserved.mkString(", ")} collide with packing outputs — alias them")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(hash24(col(idCol), salt), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.where(col(costCol) > 0)
      .withColumn("_cum", sum(col(costCol)).over(w))
      .withColumn("_start", col("_cum") - col(costCol))
      // a doc spans sequences floor(start/L) .. floor((cum-1)/L); `div`
      // is integer division (offsets are non-negative longs)
      .select(col("*"), explode(sequence(
        expr(s"_start div ${seqLen}L"),
        expr(s"(_cum - 1) div ${seqLen}L"))).as("seq_no"))
      .withColumn("tok_start",
        greatest(col("_start"), col("seq_no") * seqLen) - col("_start"))
      .withColumn("tok_end",
        least(col("_cum"), (col("seq_no") + 1) * seqLen) - col("_start"))
      .withColumn("seq_offset",
        greatest(col("_start"), col("seq_no") * seqLen) - col("seq_no") * seqLen)
      .drop("_cum", "_start")
  }

  /** DoReMi-lite domain reweighting (Xie et al., NeurIPS 2023 —
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): exponentiated-gradient ascent on domain weights
    * driven by per-domain EXCESS LOSS — the dynamic closer of the
    * mixture family next to the static rules ([[mixture]],
    * [[temperatureWeights]], [[dsir]]). Per round t: a deterministic
    * round-salted minibatch (hash24(id, salt+t) < frac·2^24) is
    * aggregated to each domain's mean clipped excess loss λ_i; weights
    * update α ∝ α·exp(η·λ) and mix with the uniform distribution at
    * `smoothing` (the published update, eq. 2). Published DoReMi
    * computes λ from a proxy-vs-reference model pair mid-training; here
    * the caller supplies the per-example excess signal as a column
    * (clipped ≥ 0 inside — e.g. a grid-aligned NLL or quality deficit),
    * which is the same update on an engine-resident signal.
    *
    * Scale shape (the X84 gradient-collect discipline): per round ONE
    * map-side-combinable hash aggregate over the sampled corpus
    * (state = |domains| rows) + a |domains|-row collect; the EG update
    * is driver arithmetic on that bounded artifact. Rounds are a fixed
    * small constant — nothing in the loop touches corpus-sized state.
    *
    * Engine-bit-identical trajectory (the q_t25 weight-grid
    * discipline): the excess column is re-gridded to 1e-6 BIGINTs and
    * summed order-free; λ lands on the integer micro grid BEFORE the
    * exp; weights re-grid to micro after every round; the EG normalizer
    * folds in domain-ascending order (the oX11 ordered-list_sum
    * pattern). Pass a GRID-ALIGNED excess expression (rounded 6 dp) or
    * the re-grid floor is the only rounding. Last-ulp caveat (the
    * flagSemantic class): exp(η·λ) and the normalizer/smoothing mix run
    * as raw doubles between the grids — JVM Math.exp and a SQL engine's
    * libm exp are not GUARANTEED ulp-identical, so a raw weight landing
    * within 1 ulp of a micro-grid floor boundary could flip the last
    * digit of weight_micro vs an oracle replay (never observed on the
    * fixtures; λ on the integer grid keeps the exp INPUTS identical, so
    * any divergence is confined to one final-digit flip per round, not
    * compounding drift — diagnose a q_x19 hash mismatch here first).
    *
    * Returns the full trajectory: (round, domain, lambda_micro,
    * weight_micro) for rounds 1..`rounds`, weight_micro being the
    * post-update weight (round 0's uniform floor(1e6/k + 0.5) is the
    * implicit start). Domains with no sampled examples in a round carry
    * λ = 0 (their weight still renormalizes). */
  def doremiWeights(df: DataFrame, domainCol: String, idCol: String,
                    excessCol: Column, rounds: Int, eta: Double = 1.0,
                    smoothing: Double = 0.01, sampleFrac: Double = 0.3,
                    salt: String = "doremi"): DataFrame = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    require(sampleFrac > 0 && sampleFrac <= 1,
      s"sampleFrac must be in (0, 1]: $sampleFrac")
    require(smoothing >= 0 && smoothing < 1,
      s"smoothing must be in [0, 1): $smoothing")
    val spark = df.sparkSession
    val thresh = math.floor(sampleFrac * (1 << 24)).toLong
    val base = df.select(col(domainCol).cast("string").as("_dom"),
      col(idCol).as("_id"),
      floor(greatest(excessCol, lit(0.0)) * lit(1e6) + lit(0.5))
        .cast("long").as("_em"))
      .localCheckpoint() // R tiny aggregates re-read this slim frame
    val domains = base.select("_dom").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    require(domains.nonEmpty, "doremiWeights needs a non-empty corpus")
    val stats: Map[(Int, String), (Long, Long)] = (1 to rounds).flatMap { t =>
      base
        .where(hash24(col("_id"), s"$salt$t") < thresh)
        .groupBy("_dom")
        .agg(sum(col("_em")).as("_sm"), count(lit(1)).as("_n"))
        .collect()
        .map(r => (t, r.getString(0)) -> (r.getLong(1), r.getLong(2)))
    }.toMap
    doremiFromStats(spark, domains, stats, rounds, eta, smoothing)
  }

  /** The driver-side DoReMi trajectory replayed from per-(round, domain)
    * sampled-excess statistics (sum of gridded excess, sample count) —
    * factored out of [[doremiWeights]] so the SAME exponentiated-gradient
    * chain runs from a streaming store's accumulated stats
    * ([[graft.streaming.StreamMixture]]): the per-round λ is a pure
    * function of (sm, n), and integer (sm, n) sums are mergeable across
    * epochs, so an accumulated store replays the exact batch trajectory
    * over everything seen so far. */
  private[graft] def doremiFromStats(spark: org.apache.spark.sql.SparkSession,
      domains: Seq[String], stats: Map[(Int, String), (Long, Long)],
      rounds: Int, eta: Double, smoothing: Double): DataFrame = {
    require(domains.nonEmpty, "doremiFromStats needs at least one domain")
    val k = domains.size
    var wm: Map[String, Long] =
      domains.map(_ -> math.floor(1e6 / k + 0.5).toLong).toMap
    val traj = Seq.newBuilder[(Long, String, Long, Long)]
    for (t <- 1 to rounds) {
      val lm: Map[String, Long] = domains.map { d =>
        d -> (stats.get((t, d)) match {
          case Some((sm, n)) if n > 0 =>
            math.floor(sm.toDouble / n.toDouble + 0.5).toLong
          case _ => 0L
        })
      }.toMap
      val raw: Seq[(String, Double)] = domains.map(d =>
        d -> (wm(d).toDouble / 1e6) * math.exp(eta * lm(d).toDouble / 1e6))
      // normalizer folds in domain-ascending order (domains is sorted)
      val nrm = raw.foldLeft(0.0)(_ + _._2)
      wm = raw.map { case (d, r) =>
        d -> math.floor(((1 - smoothing) * r / nrm + smoothing / k) * 1e6
          + 0.5).toLong
      }.toMap
      domains.foreach(d => traj += ((t.toLong, d, lm(d), wm(d))))
    }
    import spark.implicits._
    traj.result().toDF("round", "domain", "lambda_micro", "weight_micro")
  }

  /** One manifest range from the best-fit solve: docs of length `len`
    * with per-length rank in [off, off+cnt) land in bin `bin`. */
  final case class PackRange(group: String, len: Long, off: Long,
                             cnt: Long, bin: Long)

  /** Deterministic histogram best-fit-decreasing solve for ONE group —
    * the driver-side manifest step of [[packBestFit]]. Bulk form of
    * item-wise best-fit on equal-length items: lengths descend; the
    * open bin with the SMALLEST remaining capacity ≥ L absorbs
    * ⌊rem/L⌋ docs before the next bin is touched (it is strictly the
    * unique smallest fitting bin after each absorption — no other class
    * can sit between rem−kL and rem), so each step is O(1) on the
    * histogram and steps are bounded by bins × length classes, never
    * doc count. Ties inside a capacity class break FIFO (bin id order).
    * Exactly mirrored by the q_x18 oracle's recursive list-state CTE. */
  private[graft] def bestFitManifest(group: String,
      hist: Seq[(Long, Long)], maxLen: Long): Seq[PackRange] = {
    // classes: rem -> FIFO bin ids, kept sorted by rem
    val classes = scala.collection.mutable.TreeMap
      .empty[Long, scala.collection.mutable.Queue[Long]]
    val out = Seq.newBuilder[PackRange]
    var nextBin = 0L
    hist.sortBy(-_._1).foreach { case (len, total) =>
      var c = total
      var off = 0L
      while (c > 0) {
        val (bin, rem) = classes.minAfter(len) match {
          case Some((r, ids)) =>
            val b = ids.dequeue()
            if (ids.isEmpty) classes.remove(r)
            (b, r)
          case None =>
            val b = nextBin; nextBin += 1
            (b, maxLen)
        }
        val k = math.min(c, rem / len)
        out += PackRange(group, len, off, k, bin)
        off += k; c -= k
        val nr = rem - k * len
        classes.getOrElseUpdate(nr,
          scala.collection.mutable.Queue.empty[Long]).enqueue(bin)
      }
    }
    out.result()
  }

  /** Length-binned BEST-FIT sequence packing (Krell et al. 2021,
    * "Efficient Sequence Packing" — the waste-minimizing alternative to
    * [[packSequences]]' concat-and-chunk when documents must stay WHOLE,
    * i.e. no cross-document attention contamination): within each
    * group, docs are assigned to fixed-capacity `maxLen` bins by
    * histogram best-fit-decreasing, so short docs fold into long docs'
    * leftover capacity instead of padding their own bins.
    *
    * Scale shape (the PCA/BPE argmax discipline): ONE (group, length)
    * histogram aggregate — state bounded by groups × maxLen, never rows
    * — collects to the driver, the solve runs on the histogram
    * ([[bestFitManifest]]: steps bounded by bins × length classes), and
    * the manifest broadcasts back as PREFIX RANGES per (group, length).
    * Assignment is then map-side: docs rank within their (group,
    * length) class by (md5-hash, id) — the one keyed window, bounded by
    * the class, not the corpus — and range-join the manifest. The group
    * is the parallelism AND manifest-size unit: at 100 TB pass
    * lang × hash-bucket groups so each solve and each rank window stays
    * bounded (bins never cross groups, so bucketing costs only the
    * cross-bucket folding opportunity — the standard data-parallel
    * packing trade).
    *
    * Docs with cost > `maxLen` fail LOUDLY map-side (chunk them first
    * with [[packSequences]]); cost ≤ 0 rows are excluded (no mass).
    * Deterministic: the histogram, the solve, the (hash, id) rank and
    * the range join are all pure functions of the data — repartitioning
    * or reordering the input cannot move a doc between bins
    * (spec-asserted). Appends `len` (the evaluated cost) and `bin`
    * (0-based per group). */
  def packBestFit(df: DataFrame, groupCol: String, idCol: String,
                  costCol: Column, maxLen: Long,
                  salt: String = "graft"): DataFrame = {
    require(maxLen > 0, s"maxLen must be positive: $maxLen")
    val reserved = Seq("len", "bin", "_rk").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input columns ${reserved.mkString(", ")} collide with packing " +
        "outputs — alias them")
    val spark = df.sparkSession
    val withLen = df.withColumn("len",
      when(costCol > maxLen, raise_error(concat(
          lit(s"packBestFit: cost "), costCol.cast("string"),
          lit(s" exceeds maxLen $maxLen — chunk with packSequences first"))))
        .otherwise(costCol.cast("long")))
      .where(col("len") > 0)
    // manifest keys carry the ENGINE's own string representation (the
    // histogram groups on cast('string'), not on the raw value): a
    // driver-side String.valueOf would disagree with SQL cast semantics
    // on null groups ("null" vs NULL) and on types whose JVM toString
    // differs from Spark's cast (java.sql.Timestamp appends ".0"), and
    // the inner range-join would then SILENTLY drop those docs — the
    // rank window below partitions on the same cast so rank space and
    // manifest space can never diverge, and the join is null-safe so a
    // null group packs like any other group
    val gs = col(groupCol).cast("string")
    val hist = withLen.groupBy(gs.as("_g"), col("len"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .groupBy(r => if (r.isNullAt(0)) null else r.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(r => (r.getLong(1), r.getLong(2))).toSeq
      }
    val manifest = hist.toSeq.sortBy(t => Option(t._1)).flatMap {
      case (g, h) => bestFitManifest(g, h, maxLen)
    }
    import spark.implicits._
    val mf = manifest.toDF("_mg", "_ml", "_moff", "_mcnt", "_mbin")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gs, col("len"))
      .orderBy(hash24(col(idCol), salt), col(idCol))
    withLen.withColumn("_rk", row_number().over(w).cast("long") - 1)
      .join(broadcast(mf),
        gs <=> col("_mg") &&
          col("len") === col("_ml") &&
          col("_rk") >= col("_moff") && col("_rk") < col("_moff") + col("_mcnt"))
      .withColumn("bin", col("_mbin"))
      .drop("_rk", "_mg", "_ml", "_moff", "_mcnt", "_mbin")
  }

  /** Hashed uni+bigram feature-bucket occurrences for DSIR: one row per
    * feature OCCURRENCE, bucketed by the portable md5 hash so the DuckDB
    * oracle replays the exact assignment. The words array sits behind a
    * Generate boundary (the Dedup.withWords trick) so the regexp
    * tokenizer runs once per doc, not once for the unigrams and again
    * for the [[graft.functions.NGrams]] bigrams. */
  private def dsirFeatureRows(df: DataFrame, idCol: String, textCol: String,
                              numBuckets: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      explode(array(filter(Dedup.words(col(textCol)),
        w => w =!= lit("")))).as("_ws"))
    base.select(col("id"),
        explode(concat(col("_ws"), NGrams(col("_ws"), 2))).as("_f"))
      .select(col("id"),
        (Md5Prefix(concat(col("_f"), lit("|dsir")), 6) % numBuckets).as("bk"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): score every raw document by how much more likely its
    * hashed n-gram features are under a bag-of-ngrams model of the
    * TARGET distribution than under the raw distribution,
    * logw(d) = Σ_features [ln p_target(b) − ln p_raw(b)], with add-k
    * smoothing over the `numBuckets` hashed vocabulary. High-weight docs
    * look like the target domain; resampling raw data by these weights
    * is the published recipe for pretraining-data selection.
    *
    * Output per RAW doc: `id`, `n_features` (uni+bigram occurrences,
    * exact integer), `logw` (null for featureless docs).
    *
    * Scale shape: both "model fits" are ONE hash aggregate each onto at
    * most `numBuckets` rows (map-side combinable; B defaults to 4096 —
    * a bounded artifact at any corpus size), the bucket log-ratio table
    * rides the BROADCAST side of the scoring join, and the only
    * doc-keyed shuffle is the final per-doc sum. Nothing driver-side:
    * the model never leaves the cluster.
    *
    * Cross-engine hash discipline (the q_t15 moneySum pattern):
    * per-bucket log-ratios are rounded onto the 1e-6 grid and stored as
    * DECIMAL(28,6), so the per-doc sum is exact in any partition order;
    * the final cast to double is the only lossy step and is identical
    * on both engines. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, numBuckets: Int = 4096,
                  k: Double = 0.5): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    require(k > 0, s"smoothing k must be positive: $k")
    val tRows = dsirFeatureRows(target, idCol, textCol, numBuckets)
    val rRows = dsirFeatureRows(raw, idCol, textCol, numBuckets)
    val tc = tRows.groupBy("bk").agg(count(lit(1)).as("_tc"))
    val rc = rRows.groupBy("bk").agg(count(lit(1)).as("_rc"))
    val tTot = tc.agg(coalesce(sum(col("_tc")), lit(0L)).cast("double").as("_tt"))
    val rTot = rc.agg(coalesce(sum(col("_rc")), lit(0L)).cast("double").as("_rt"))
    val kb = k * numBuckets
    val model = tc.join(rc, Seq("bk"), "full_outer")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("bk"),
        round(log((coalesce(col("_tc"), lit(0L)).cast("double") + lit(k)) /
            (col("_tt") + lit(kb)))
          - log((coalesce(col("_rc"), lit(0L)).cast("double") + lit(k)) /
            (col("_rt") + lit(kb))), 6)
          .cast("decimal(28,6)").as("_lr"))
    val agg = rRows.join(broadcast(model), Seq("bk"))
      .groupBy("id")
      .agg(count(lit(1)).as("_n"), sum(col("_lr")).as("_slw"))
      .withColumnRenamed("id", "_dsir_id")
    raw.select(col(idCol))
      .join(agg, col(idCol) === col("_dsir_id"), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_features"),
        col("_slw").cast("double").as("logw"))
  }

  /** Deterministic top-n selection over [[dsirWeights]] output: keeps
    * every row whose weight clears the n-th largest (weight-ties at the
    * threshold all survive — deterministic either way, never
    * partition-order dependent). The threshold probe is k-bounded
    * (orderBy + limit(n) plans as TakeOrderedAndProject); at 100 TB
    * scale swap the exact threshold for approxQuantile and keep the
    * same filter shape. DSIR's published variant resamples by
    * Gumbel-perturbed weights; with the md5-uniform `hash24(id)` as the
    * noise source that too stays deterministic — this helper is the
    * argmax-k special case. */
  def dsirSelectTop(scored: DataFrame, idCol: String, weightCol: String,
                    n: Int): DataFrame = {
    require(n > 0, s"selection size must be positive: $n")
    val kth = scored.where(col(weightCol).isNotNull)
      .orderBy(desc(weightCol), col(idCol)).limit(n)
      .agg(min(col(weightCol)).as("_kth"))
    scored.crossJoin(broadcast(kth))
      .where(col(weightCol) >= col("_kth"))
      .drop("_kth")
  }

  /** Token-budget selection — "take the best documents until the token
    * budget is spent" (the DCLM/FineWeb-style curation cut, where the
    * constraint a trainer actually has is a TOKEN count, not a doc count
    * or a quality percentile): rows are taken in (score DESC, hash, id)
    * order while the running token sum stays ≤ `budget`; documents are
    * atomic (a doc never splits across the cut). The greedy prefix is
    * the selection the published recipes use; [[TextStats.percentileGate]]
    * is the rank-defined cousin when the constraint is a FRACTION.
    *
    * Determinism: ties at the boundary score break by (md5-hash, id) —
    * membership is a pure function of the corpus content, reproducible
    * across runs, repartitions, and engines (the DuckDB oracle replays
    * the whole selection). Pass a GRID-ALIGNED score (e.g.
    * [[TextStats.qualityScore]], rounded 6 dp): the boundary is an
    * equality test on the score value, so an unrounded double would make
    * the boundary bin engine-dependent in the last ulp.
    *
    * Scale shape (the percentileGate discipline): ONE map-side-combinable
    * (score → token mass) histogram aggregate — state bounded by the
    * score grid, never by row count — then the cumulative window runs
    * over that compressed histogram, the single boundary bin (the one
    * score where the budget runs out) broadcasts back as one row, and
    * the whole-bin keep is a map-side filter. Only the boundary bin's
    * OWN rows pass through a window (one score value — bounded by the
    * largest tie group, not the corpus); everything else never sorts,
    * never shuffles beyond the histogram. Rows with null score or null
    * tokens carry no mass and are excluded, as are rows with NEGATIVE
    * token mass: the histogram/boundary decomposition equals the greedy
    * takeWhile prefix only while the running token sum is monotone, so
    * a negative mass would silently turn the selection non-greedy.
    *
    * Appends `score` and `tokens` (the evaluated columns; any existing
    * columns of those names are replaced) and returns ONLY the selected
    * rows.
    *
    * The input is scanned by two output branches plus the histogram, so
    * an EXPENSIVE scorer (regex quality formulas, model inference)
    * re-evaluates up to 4×: materialize it first into a slim
    * (id, score, tokens) frame (cache / localCheckpoint / a persisted
    * score table) and pass plain column refs — the q_x17 caller shows
    * the shape. */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: Column,
                        tokensCol: Column, budget: Long,
                        salt: String = "budget"): DataFrame = {
    require(budget >= 0L, s"token budget must be non-negative: $budget")
    import org.apache.spark.sql.expressions.Window
    val scored = df.withColumn("score", scoreCol)
      .withColumn("tokens", tokensCol)
      .where(col("score").isNotNull && col("tokens").isNotNull &&
        col("tokens") >= 0)
    val hist = scored.groupBy(col("score")).agg(sum(col("tokens")).as("_bt"))
    // token mass of all STRICTLY better scores (histogram-sized window;
    // score is the group key so rows are unique and ROWS==RANGE)
    val cum = hist.withColumn("_pfx",
      sum(col("_bt")).over(Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("_bt"))
    // the (at most one) boundary bin: the better-score mass fits, the
    // whole bin does not. No boundary row ⇒ the budget covers everything.
    val bnd = cum.agg(
      max(when(col("_pfx") <= budget && col("_pfx") + col("_bt") > budget,
        col("score"))).as("_bscore"),
      max(when(col("_pfx") <= budget && col("_pfx") + col("_bt") > budget,
        col("_pfx"))).as("_bpfx"))
    val withB = scored.crossJoin(broadcast(bnd))
    val whole = withB
      .where(col("_bscore").isNull || col("score") > col("_bscore"))
    val wBin = Window.partitionBy(col("score"))
      .orderBy(hash24(col(idCol), salt), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = withB.where(col("score") === col("_bscore"))
      .withColumn("_cum", sum(col("tokens")).over(wBin))
      .where(col("_bpfx") + col("_cum") <= budget)
      .drop("_cum")
    whole.union(partial).drop("_bscore", "_bpfx")
  }
}
