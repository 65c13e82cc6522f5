package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** In-engine BPE vocabulary trainer — byte-pair-encoding merge learning
  * (Sennrich et al. 2016): iteratively merge the corpus's most frequent
  * adjacent token pair, starting from characters. The
  * tokenizer-construction counterpart to the trained classifier (X84):
  * every step is deterministic, and a SQL oracle replays the whole
  * merge trajectory.
  *
  * Scale contract — the reason BPE fits 100 TB: training runs on the
  * WORD HISTOGRAM (distinct word, count), never the corpus. One
  * tokenize-and-count pass reduces 100 TB of text to a vocabulary-sized
  * frame (millions of rows at web scale). [[train]] (exact greedy,
  * k ≤ 1000) collects that histogram in that one pass and runs the
  * merge loop on the driver, whose memory is the distinct-word
  * histogram plus its pair counts. [[trainBatched]] stays the
  * Spark-side path for large k: per round one hash aggregate over the
  * histogram plus a bounded candidate collect, and the re-tokenization
  * is a map-only literal `replace` on the histogram rows. Nothing in
  * either loop touches corpus-sized data.
  *
  * Determinism contract: token sequences are represented as strings
  * with every token wrapped in U+001F separators ("␟a␟␟b␟" for [a,b]),
  * so one literal `replace("␟a␟␟b␟" → "␟ab␟")` performs the standard
  * greedy leftmost non-overlapping merge IDENTICALLY in any engine
  * ("aaa" + merge(a,a) → [aa, a]); the argmax pair breaks count ties
  * on (left, right) ascending in UTF-8 byte order. Tokens are
  * normalized word characters (Dedup.words — Unicode
  * letters/marks/numbers), so they can never contain the U+001F
  * separator (a control char the tokenizer strips).
  */
object Bpe {

  /** The separator wrapping every token in the string representation. */
  val Sep = "\u001f"

  /** (w, cnt) word histogram — the ONLY corpus-sized pass. */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Dedup.words(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Initial sequence string: every character wrapped in separators. */
  private def charSeq(w: Column): Column =
    regexp_replace(w, "(.)", Sep + "$1" + Sep)

  /** One learned merge. */
  final case class Merge(l: String, r: String, count: Long) {
    def merged: String = l + r
  }

  /** Learn `k` merges from the corpus. Returns them in training order.
    * Cost: ONE corpus pass — the histogram aggregate, collected as
    * (sequence string, count) rows (two Spark jobs under AQE: the
    * shuffle stage and the result) — then the exact greedy loop on the
    * driver ([[greedyMerges]]), whose memory is the distinct-word
    * histogram plus its pair counts, never the corpus. No Spark job per
    * merge. The cap keeps that driver loop to vocabulary-demo scale;
    * real tokenizer vocabularies (32k–100k merges) train Spark-side
    * with [[trainBatched]]. */
  def train(df: DataFrame, textCol: String, k: Int): Seq[Merge] = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    val hist = wordHistogram(df, textCol)
      .select(charSeq(col("w")).as("seq"), col("cnt")).collect()
    greedyMerges(hist.map(_.getString(0)), hist.map(_.getLong(1)), k)
  }

  /** The exact greedy merge loop over the histogram's sequence strings
    * and counts (`seqs` is rewritten in place): each step merges the
    * most frequent adjacent pair — count desc, then (l, r) in UTF-8 byte
    * order, the engines' string order — with the same literal leftmost
    * non-overlapping `replace` as [[mergeOnce]]. Incremental: a merge
    * re-counts only the words whose sequence contains it, and the
    * argmax comes off a heap whose stale entries (count no longer
    * current) are skipped. */
  private def greedyMerges(seqs: Array[String], cnts: Array[Long],
                           k: Int): Seq[Merge] = {
    type Pair = (String, String)
    val counts = mutable.HashMap.empty[Pair, Long]
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering.Long,
        Unigram.utf8Order.reverse, Unigram.utf8Order.reverse))
    def tally(delta: mutable.HashMap[Pair, Long], seq: String, n: Long): Unit = {
      val t = seq.substring(1, seq.length - 1).split(Sep + Sep, -1)
      t.iterator.zip(t.iterator.drop(1))
        .foreach(p => delta(p) = delta.getOrElse(p, 0L) + n)
    }
    def commit(delta: mutable.HashMap[Pair, Long]): Unit =
      delta.foreach { case (p, d) =>
        val c = counts.getOrElse(p, 0L) + d
        if (c == 0) counts -= p
        else if (d != 0) { counts(p) = c; heap.enqueue((c, p._1, p._2)) }
      }
    val init = mutable.HashMap.empty[Pair, Long]
    seqs.indices.foreach(i => tally(init, seqs(i), cnts(i)))
    commit(init)
    val out = Seq.newBuilder[Merge]
    var done = 0
    while (done < k && heap.nonEmpty) {
      val (c, l, r) = heap.dequeue()
      if (counts.get((l, r)).contains(c)) {
        val m = Merge(l, r, c)
        out += m
        done += 1
        val from = Sep + l + Sep + Sep + r + Sep
        val delta = mutable.HashMap.empty[Pair, Long]
        for (i <- seqs.indices if seqs(i).contains(from)) {
          tally(delta, seqs(i), -cnts(i))
          seqs(i) = seqs(i).replace(from, Sep + m.merged + Sep)
          tally(delta, seqs(i), cnts(i))
        }
        commit(delta)
      }
    }
    out.result()
  }

  /** Learn `k` merges in BATCHED driver rounds — the path to real
    * tokenizer vocabularies (32k–100k merges), where [[train]]'s driver
    * loop would hold the whole histogram on one JVM and re-scan it once
    * per merge. Per round: ONE pair-count aggregate over the histogram,
    * ONE bounded collect of the top `4·batch` candidate pairs, then a
    * driver-side greedy selection that accepts candidates in
    * (count desc, l, r) order while their tokens are pairwise DISJOINT —
    * a candidate sharing a token with an already-accepted pair is
    * DEFERRED to the next round (its counts are stale the moment the
    * accepted merge consumes shared occurrences). Accepted merges apply
    * as one chained-replace projection in accepted order.
    *
    * Trajectory contract — stated exactly, because the general claim
    * "disjoint merges don't change the greedy trajectory" is FALSE: a
    * merge can CREATE a pair that outranks every remaining candidate
    * ((i,n) → (in,t) → (int,er) chains rank at the parent's count), and
    * one-at-a-time greedy follows that chain while a batch cannot see
    * it. Precisely: `batch = 1` IS one-at-a-time greedy (spec-asserted
    * equal to [[train]] on a rich corpus); for `batch > 1` the batched
    * trajectory equals the greedy one exactly when each round's accepted
    * merges neither share tokens nor spawn new pairs that outrank the
    * round's remaining candidates (spec-asserted on a disjoint-window
    * fixture). Outside that window this is the standard parallel-BPE
    * approximation: conflicting candidates defer to the next round with
    * FRESH counts (never stale ones), so every accepted merge's count is
    * true at its application time — vocabularies differ from greedy only
    * in how count-tied/chained families interleave.
    *
    * Scale shape: rounds ≈ k / batch (≤ 20 driver rounds for k = 8000 at
    * the default batch) with each round one hash aggregate over the
    * word HISTOGRAM (vocabulary-sized, never the corpus) + a ≤ 4·batch
    * row collect; lineage is cut per round (localCheckpoint) so the
    * chained replace expressions never nest past one round's batch. */
  def trainBatched(df: DataFrame, textCol: String, k: Int,
                   batch: Int = 512): Seq[Merge] =
    trainBatchedFromHistogram(wordHistogram(df, textCol), k, batch)

  /** [[trainBatched]] on a prepared (w, cnt) histogram — the shared
    * core, so byte-level training can rep the words first without a
    * second corpus pass. */
  def trainBatchedFromHistogram(wordHist: DataFrame, k: Int,
                                batch: Int = 512): Seq[Merge] = {
    require(k >= 1 && k <= 100000, s"k out of range: $k")
    require(batch >= 1, s"batch must be positive: $batch")
    var hist = wordHist
      .select(col("cnt"), charSeq(col("w")).as("seq"))
      .localCheckpoint()
    val out = Seq.newBuilder[Merge]
    var done = 0
    while (done < k) {
      val toks = split(trim(col("seq"), Sep), Sep + Sep)
      val want = math.min(batch, k - done)
      val top = hist
        .where(size(toks) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("l"),
            element_at(toks, i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(4 * want).collect()
      if (top.isEmpty) return out.result()
      // Occurrence-overlap conflict rule — two pairs interfere only when
      // one's RIGHT token is the other's LEFT (the "p a b" chain: the
      // shared occurrence can feed only one merge), or when a candidate
      // references a string equal to an accepted pair's MERGED token
      // (the replace would capture occurrences created this round).
      // Same-left or same-right pairs ((p1,a),(p2,a)) have DISJOINT
      // occurrence sets — each token position has one left and one right
      // neighbor — so they merge in one round without interference.
      val ls = scala.collection.mutable.HashSet.empty[String]
      val rs = scala.collection.mutable.HashSet.empty[String]
      val mg = scala.collection.mutable.HashSet.empty[String]
      val acc = scala.collection.mutable.ArrayBuffer.empty[Merge]
      var i = 0
      while (i < top.length && acc.length < want) {
        val l = top(i).getAs[String]("l")
        val r = top(i).getAs[String]("r")
        if (!rs.contains(l) && !ls.contains(r) &&
            !mg.contains(l) && !mg.contains(r)) {
          acc += Merge(l, r, top(i).getAs[Long]("c"))
          ls += l; rs += r; mg += l + r
        }
        i += 1
      }
      out ++= acc
      done += acc.length
      // apply in chunks of <= 64 chained replaces per projection: one
      // projection with hundreds of nested replace nodes overflows the
      // analyzer's recursion and the generated method's 64 KB limit; the
      // localCheckpoint between chunks is a barrier CollapseProject
      // cannot re-inline (accepted merges touch disjoint occurrences, so
      // chunk boundaries cannot change the result)
      acc.grouped(64).foreach { chunk =>
        val ns = chunk.foldLeft(col("seq"): Column)(mergeOnce)
        hist = hist.select(col("cnt"), ns.as("seq")).localCheckpoint()
      }
    }
    out.result()
  }

  /** Apply one merge to a sequence-string column (literal replace —
    * greedy leftmost non-overlapping by construction). */
  private def mergeOnce(seq: Column, m: Merge): Column =
    call_function("replace", seq,
      lit(Sep + m.l + Sep + Sep + m.r + Sep), lit(Sep + m.merged + Sep))

  /** Tokenize a (normalized single-word) column with a learned merge
    * list: k chained literal replaces — a fixed codegen'd expression,
    * no state, serves batch or stream rows identically. Returns the
    * token ARRAY. Demo-scale only: the plan grows one node per merge
    * (analyzer recursion and the 64 KB codegen method cap bite near a
    * thousand); real vocabularies serve through
    * [[graft.functions.BpeEncode]] — one plan node at any k, rank-loop
    * kernel, spec-pinned equal on trained vocabs. */
  def encodeWord(w: Column, merges: Seq[Merge]): Column = {
    val seq = merges.foldLeft(charSeq(w))(mergeOnce)
    split(trim(seq, Sep), Sep + Sep)
  }

  /** A word-trained merge list transferred to BYTE-LEVEL rep space:
    * the byte map is a concatenation homomorphism (one char per byte,
    * [[graft.functions.ByteLevel]]), so repping each side of every
    * merge preserves the trained-vocab invariant and the rank loop
    * fires identically — rep(encodeWord(w)) == encodeBytes(w) token
    * for token on word-alphabet input (spec-pinned), while the
    * transferred vocabulary ALSO encodes arbitrary bytes (falling back
    * to single-byte pieces where no merge applies). */
  def repMerges(merges: Seq[Merge]): Seq[Merge] =
    merges.map(m => Merge(graft.functions.ByteLevel.toRep(m.l),
      graft.functions.ByteLevel.toRep(m.r), m.count))

  /** [[trainBatched]] in BYTE-LEVEL rep space: the word histogram's
    * words are repped (one corpus pass, unchanged counts — the rep map
    * is injective) and merges are learned over rep characters, so the
    * vocabulary serves [[encodeBytes]] directly. GPT-2's construction,
    * on the word-histogram scale discipline. */
  def trainBytesBatched(df: DataFrame, textCol: String, k: Int,
                        batch: Int = 512): Seq[Merge] = {
    val repped = wordHistogram(df, textCol)
      .select(graft.functions.ByteRep(col("w")).as("w"), col("cnt"))
    trainBatchedFromHistogram(repped, k, batch)
  }

  /** Total byte-level encode: ANY string (punctuation, emoji, controls,
    * arbitrary bytes — not just normalized words) → rep-space token
    * array with ZERO unknowns: the 256 single-byte rep chars are always
    * available as fallback pieces. Pass byte-level merges
    * ([[trainBytesBatched]] or [[repMerges]]). O(len²) rank probes per
    * input — chunk corpus-sized strings (e.g. per word or line) before
    * encoding, exactly like any production BPE serve path. */
  def encodeBytes(s: Column, merges: Seq[Merge]): Column =
    graft.functions.BpeEncode(graft.functions.ByteRep(s), merges)

  /** Decode [[encodeBytes]] output back to the original string —
    * decode ∘ encode is the IDENTITY on any input (oracled, q_t43). */
  def decodeBytes(tokens: Column): Column =
    graft.functions.ByteRepDecode(tokens)

  /** Merges as a small DataFrame (step, l_tok, r_tok, merged,
    * pair_count) — the persistable vocabulary artifact. */
  def mergesFrame(spark: org.apache.spark.sql.SparkSession,
                  merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i.toLong + 1, m.l, m.r, m.merged, m.count) }
      .toDF("step", "l_tok", "r_tok", "merged", "pair_count")
  }

  /** A persisted [[mergesFrame]] read back into TRAINING-ORDER merges —
    * the serve path: a downstream encoder (batch or streaming) rebuilds
    * [[encodeWord]]'s replace chain from the stored vocabulary without
    * retraining. The collect is the k-row vocabulary itself — the same
    * bounded-artifact contract as the IVF centroid loads. */
  def mergesFromFrame(df: DataFrame): Seq[Merge] =
    df.select(col("step"), col("l_tok"), col("r_tok"), col("pair_count"))
      .orderBy("step").collect()
      .map(r => Merge(r.getAs[String]("l_tok"), r.getAs[String]("r_tok"),
        r.getAs[Long]("pair_count"))).toSeq

  /** Persist the vocabulary artifact at `path` (one small file). */
  def save(spark: org.apache.spark.sql.SparkSession, merges: Seq[Merge],
           path: String): Unit =
    mergesFrame(spark, merges).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Load a vocabulary persisted by [[save]], ready for [[encodeWord]]. */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): Seq[Merge] =
    mergesFromFrame(spark.read.parquet(path))
}
