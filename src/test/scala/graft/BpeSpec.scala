package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

class BpeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("train: hand-worked merge trajectory on the aaab corpus " +
    "(pair counts, argmax, greedy leftmost overlap handling)") {
    // histogram: aaab x2, ab x1
    // step 1: pairs (a,a)=2*2=4, (a,b)=2+1=3 -> merge (a,a) c=4
    //   aaab -> [aa, a, b] (greedy leftmost: the SECOND (a,a) overlap
    //   must NOT merge), ab -> [a, b]
    // step 2: (aa,a)=2, (a,b)=2+1=3 -> merge (a,b) c=3
    //   aaab -> [aa, a, b]? no: [aa, a, b] has (a,b) -> [aa, ab]; ab -> [ab]
    // step 3: (aa,ab)=2 -> merge c=2; aaab -> [aaab]
    val df = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", k = 3)
    assert(m.map(x => (x.l, x.r, x.count)) ==
      Seq(("a", "a", 4L), ("a", "b", 3L), ("aa", "ab", 2L)), s"$m")
    // encodeWord replays the exact training-state tokenization
    val enc = Seq("aaab", "ab", "aab", "a", "ba")
      .toDF("w").select(col("w"), Bpe.encodeWord(col("w"), m).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(enc("aaab") == Seq("aaab"))
    assert(enc("ab") == Seq("ab"))
    // 'aab': (a,a) merges first -> [aa, b]; no (a,b) adjacency remains,
    // and (aa,ab) never forms - order of learned merges matters
    assert(enc("aab") == Seq("aa", "b"), s"${enc("aab")}")
    assert(enc("a") == Seq("a"))
    assert(enc("ba") == Seq("b", "a"))
  }

  test("train: count ties break on (left, right) ascending; " +
    "single-char words are safe") {
    // "xy" x2 and "uv" x2 tie at 2 -> (u,v) wins lexicographically;
    // the lone "z" word must not break the pair scan
    val df = Seq((1L, "xy xy uv uv z")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", k = 2)
    assert(m.map(x => (x.l, x.r, x.count)) ==
      Seq(("u", "v", 2L), ("x", "y", 2L)), s"$m")
    // the order is UTF-8 bytes, the engines' string order, not UTF-16
    // code units: fullwidth a (U+FF41, EF BD 81) sorts BELOW bold a
    // (U+1D41A, F0 9D 90 9A) in UTF-8 but above its surrogates in UTF-16;
    // all four pairs tie at 2 and z (7A) sorts first in both orders
    val fa = "\uff41"; val fb = "\uff42"
    val ba = "\ud835\udc1a"; val bb = "\ud835\udc1b"
    val wide = Seq((1L, Seq(fa + fb, fa + fb, ba + bb, ba + bb,
      "z" + fa, "z" + fa, "z" + ba, "z" + ba).mkString(" ")))
      .toDF("doc_id", "text")
    val u = Bpe.train(wide, "text", k = 4)
    assert(u.map(x => (x.l, x.r, x.count)) == Seq(("z", fa, 2L),
      ("z", ba, 2L), (fa, fb, 2L), (ba, bb, 2L)), s"$u")
  }

  test("train submits the same Spark jobs at any k: one histogram " +
    "collect, then the merge loop on the driver") {
    val df = Seq("international internet nation intern rational net")
      .map(t => (1L, t)).toDF("doc_id", "text")
    val jobs3 = jobsSubmitted(Bpe.train(df, "text", k = 3))
    var m12 = Seq.empty[Bpe.Merge]
    val jobs12 = jobsSubmitted { m12 = Bpe.train(df, "text", k = 12) }
    assert(m12.size == 12, s"$m12")
    assert(jobs3 == jobs12, s"k=3: $jobs3 jobs, k=12: $jobs12 jobs")
  }

  test("encodeWord serves a STREAM with a frozen vocab == batch " +
    "(stateless chained-replace expression)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val m = Bpe.train(Seq((1L, "aaab aaab ab")).toDF("doc_id", "text"),
      "text", k = 3)
    val live = Seq((10L, "aaab"), (11L, "aab"), (12L, "ba"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val batch = rows(live.toDF("id", "w")
      .select(col("id"), Bpe.encodeWord(col("w"), m).as("t")))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "w")
      .select(col("id"), Bpe.encodeWord(col("w"), m).as("t"))
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_out").start()
    try {
      mem.addData(live: _*)
      q.processAllAvailable()
      val streamed = rows(spark.table("bpe_out"))
      assert(streamed == batch, s"$streamed vs $batch")
      assert(streamed(10L) == Seq("aaab") && streamed(11L) == Seq("aa", "b"))
    } finally q.stop()
  }

  test("train stops early when no pairs remain") {
    val df = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // one merge exhausts every multi-token word; k=5 must return 1
    val m = Bpe.train(df, "text", k = 5)
    assert(m.map(x => (x.l, x.r)) == Seq(("a", "b")), s"$m")
  }

  test("trainBatched: batch=1 is one-at-a-time greedy on a rich corpus; " +
    "batch>1 equals greedy on the disjoint-window fixture; early stop") {
    // rich corpus with chained merges and ties — the hard case: batch=1
    // must replay train() exactly (same merges, same order, same counts)
    val rich = (Seq.fill(13)("international") ++ Seq.fill(7)("internet") ++
      Seq.fill(5)("nation") ++ Seq.fill(3)("intern") ++
      Seq.fill(2)("rational") ++ Seq("net"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val exact = Bpe.train(rich, "text", k = 19)
    val one = Bpe.trainBatched(rich, "text", k = 19, batch = 1)
    assert(one.map(m => (m.l, m.r, m.count)) ==
      exact.map(m => (m.l, m.r, m.count)), s"one=$one\nexact=$exact")
    // disjoint-window fixture: two-char words over non-overlapping
    // letters, distinct counts — merges neither conflict nor spawn new
    // pairs, so ANY batch size must equal the greedy trajectory
    val disjoint = (Seq.fill(9)("ab") ++ Seq.fill(8)("cd") ++
      Seq.fill(7)("ef") ++ Seq.fill(6)("gh") ++ Seq.fill(5)("ij") ++
      Seq.fill(4)("kl") ++ Seq.fill(3)("mn") ++ Seq.fill(2)("op"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val dExact = Bpe.train(disjoint, "text", k = 8)
    val dBatched = Bpe.trainBatched(disjoint, "text", k = 8, batch = 3)
    assert(dBatched.map(m => (m.l, m.r, m.count)) ==
      dExact.map(m => (m.l, m.r, m.count)),
      s"batched=$dBatched\nexact=$dExact")
    assert(dBatched.map(m => (m.l, m.r, m.count)) == Seq(
      ("a", "b", 9L), ("c", "d", 8L), ("e", "f", 7L), ("g", "h", 6L),
      ("i", "j", 5L), ("k", "l", 4L), ("m", "n", 3L), ("o", "p", 2L)))
    // batched stops early when pairs exhaust, like train
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(Bpe.trainBatched(tiny, "text", k = 5, batch = 3)
      .map(m => (m.l, m.r)) == Seq(("a", "b")))
  }

  test("trainBatched: 1,000 merges at batch 64 take at most 20 driver rounds") {
    // a wide tie-heavy histogram: 6,000 distinct 8-hex-char words with
    // counts 1..97 (the corpus tables' ~30-word vocabulary runs out of
    // pairs after a few hundred merges)
    val hist = spark.range(6000).select(
        substring(md5(col("id").cast("string")), 1, 8).as("w"),
        (lit(1L) + col("id") % 97).as("cnt"))
      .localCheckpoint()
    def jobs(k: Int, batch: Int): Int = {
      var m = Seq.empty[Bpe.Merge]
      val n = jobsSubmitted { m = Bpe.trainBatchedFromHistogram(hist, k, batch) }
      assert(m.size == k, s"k=$k batch=$batch: ${m.size} merges")
      n
    }
    // A run submits a fixed setup, then the same jobs every round: the
    // pair-count aggregate with its bounded collect, and one
    // localCheckpoint per 64 accepted merges, so exactly one at
    // batch <= 64. batch = 1 accepts one merge per round, so k merges at
    // batch 1 submit exactly the jobs of k rounds.
    // k / batch = 15.6, as for 8,000 merges at batch 512: 16 rounds if
    // every round accepted its whole batch; 20 leaves room for the
    // candidates that defer on a shared token (mean acceptance >= 78%)
    val (j, j16, j20) = (jobs(1000, 64), jobs(16, 1), jobs(20, 1))
    assert(j16 < j20 && j >= j16 && j <= j20, s"$j jobs; 16 rounds: $j16, 20 rounds: $j20")
  }

  test("BpeEncode expression == encodeWord on a trained vocab, and " +
    "serves a MULTI-THOUSAND-merge vocab the chained form cannot build") {
    import graft.functions.BpeEncode
    // small vocab: expression output == chained-replace encodeWord
    val m3 = Bpe.train(Seq((1L, "aaab aaab ab")).toDF("doc_id", "text"),
      "text", k = 3)
    val words = Seq("aaab", "ab", "aab", "a", "ba", "")
    val small = words.toDF("w").select(
        Bpe.encodeWord(col("w"), m3).as("chain"),
        BpeEncode(col("w"), m3).as("expr"))
      .collect()
    small.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"$r")
    }
    // large vocab: trainBatched on a wide synthetic corpus, then encode
    // through the ONE-node expression; ground truth is a driver-side
    // replay of the chained-replace semantics (the df chained form at
    // this k would overflow the analyzer/codegen limits)
    val corpus = spark.range(800).select(
      col("id").as("doc_id"),
      substring(md5(col("id").cast("string")), 1, 8).as("text"))
    val big = Bpe.trainBatched(corpus, "text", k = 1500, batch = 256)
    assert(big.size > 1000, s"corpus too narrow: ${big.size} merges")
    def chainedReference(w: String): Seq[String] = {
      val sep = Bpe.Sep
      var s = w.map(c => s"$sep$c$sep").mkString
      big.foreach { m =>
        s = s.replace(sep + m.l + sep + sep + m.r + sep,
          sep + m.merged + sep)
      }
      if (s.isEmpty) Seq("")
      else s.substring(1, s.length - 1).split(sep + sep, -1).toSeq
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sample = (0 until 50).map(i => md5hex(i.toString).substring(0, 8))
    val got = sample.toDF("w")
      .select(col("w"), BpeEncode(col("w"), big).as("t")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    sample.foreach { w =>
      assert(got(w) == chainedReference(w), s"$w: ${got(w)}")
    }
  }

  test("save/load round-trips the vocabulary; a loaded vocab encodes " +
    "identically to the trained one — and serves a STREAM through " +
    "BpeEncode == batch") {
    val df = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", k = 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpe_vocab").toString + "/merges"
    Bpe.save(spark, m, dir)
    val loaded = Bpe.load(spark, dir)
    assert(loaded == m, s"$loaded vs $m")
    val words = Seq("aaab", "aab", "ba").toDF("w")
    val a = words.select(Bpe.encodeWord(col("w"), m).as("t"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    val b = words.select(Bpe.encodeWord(col("w"), loaded).as("t"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(a == b)
    // the served pipeline: vocabulary read back from the artifact, the
    // rank-loop expression encoding a live stream — rows == batch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.BpeEncode
    val live = Seq((10L, "aaab"), (11L, "aab"), (12L, "ba"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val batch = rows(live.toDF("id", "w")
      .select(col("id"), BpeEncode(col("w"), loaded).as("t")))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "w")
      .select(col("id"), BpeEncode(col("w"), loaded).as("t"))
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_loaded_out").start()
    try {
      mem.addData(live: _*)
      q.processAllAvailable()
      val streamed = rows(spark.table("bpe_loaded_out"))
      assert(streamed == batch, s"$streamed vs $batch")
      assert(streamed(10L) == Seq("aaab") && streamed(11L) == Seq("aa", "b"))
    } finally q.stop()
  }

  // ---- unigram-LM (SentencePiece-style) ----------------------------------

  test("ByteLevel: the byte<->char table is a bijection; toRep/fromRep " +
    "round-trips arbitrary bytes; fromRep fails loudly off-alphabet") {
    import graft.functions.ByteLevel
    assert(ByteLevel.byteToChar.distinct.length == 256, "table must be 1:1")
    assert((0 until 256).forall(b =>
      ByteLevel.charToByte(ByteLevel.byteToChar(b)) == b), "inverse")
    // controls (incl NUL), multi-byte UTF-8, emoji, Latin-1 — all total
    val nasty = Seq("", "hello world!", "café mañana",
      "\u0000\u0007\t\r\n", "五行가",
      new String(Character.toChars(0x1F980)), "a b  c\u00a0d")
    nasty.foreach { s =>
      val rep = ByteLevel.toRep(s)
      assert(rep.length == s.getBytes("UTF-8").length,
        s"one rep char per byte: ${s.toList}")
      assert(ByteLevel.fromRep(rep) == s, s"round trip: ${s.toList}")
    }
    val e = intercept[IllegalArgumentException](ByteLevel.fromRep(" "))
    assert(e.getMessage.contains("byte-rep"), e.getMessage)
  }

  test("byte-level BPE: repMerges transfers a word vocabulary (rep of " +
    "encodeWord == encodeBytes token for token); encode is TOTAL with " +
    "zero unknowns and decode is the identity on arbitrary input") {
    import graft.functions.ByteLevel
    val df = Seq((1L, "aaab aaab ab ab banana")).toDF("doc_id", "text")
    val wordMerges = Bpe.train(df, "text", k = 5)
    val byteMerges = Bpe.repMerges(wordMerges)
    // homomorphism transfer: on word-alphabet input the rep'd vocabulary
    // fires the same merges on the same boundaries
    val words = Seq("aaab", "ab", "banana", "nab").toDF("w")
    val both = words.select(
        Bpe.encodeWord(col("w"), wordMerges).as("wt"),
        Bpe.encodeBytes(col("w"), byteMerges).as("bt"))
      .collect()
    both.foreach { r =>
      val wt = r.getSeq[String](0).map(ByteLevel.toRep)
      val bt = r.getSeq[String](1)
      assert(wt == bt, s"transfer must be token-identical: $wt vs $bt")
    }
    // totality: input no word tokenizer can represent — punctuation,
    // NUL, emoji — encodes with zero unknowns (every token decodes) and
    // round-trips exactly
    val nasty = "ab, aaab!   café " +
      new String(Character.toChars(0x1F980))
    val out = Seq(nasty).toDF("s")
      .select(Bpe.encodeBytes(col("s"), byteMerges).as("tk"))
      .select(col("tk"), Bpe.decodeBytes(col("tk")).as("back"))
      .head()
    assert(out.getString(1) == nasty, "decode(encode(x)) must equal x")
    out.getSeq[String](0).foreach(t =>
      ByteLevel.fromRep(t)) // every token decodes — no UNK exists
    // byte-level TRAINING end-to-end: merges learned in rep space serve
    // the same contract
    val trained = Bpe.trainBytesBatched(df, "text", k = 4, batch = 2)
    assert(trained.nonEmpty)
    val rt = Seq(nasty).toDF("s")
      .select(Bpe.decodeBytes(Bpe.encodeBytes(col("s"), trained)).as("b"))
      .head().getString(0)
    assert(rt == nasty, "trained byte vocab must round-trip too")
  }

  test("Unigram.train: hand-worked Viterbi-EM trajectory on the ab corpus " +
    "(seed counts, E-step hard counts, char smoothing, renormalized costs)") {
    import graft.operators.Unigram
    // histogram: ab x3, b x1. Seed (P=2, minSeed=1): a=3, b=4, ab=3
    // (total 10). Viterbi "ab": [ab] at cost(ab)=-ln(.3) beats
    // [a,b] at -ln(.3)-ln(.4); "b" -> [b].
    // E-counts: ab=3, b=1. M-step: a -> 0+1=1, b -> 1+1=2, ab -> 3
    // (total 6) — identical again in round 2 (same argmins).
    val df = Seq((1L, "ab ab ab b")).toDF("doc_id", "text")
    val v = Unigram.train(df, "text", vocabSize = 3, maxPieceLen = 2,
      emRounds = 2, minSeedCount = 1L)
    assert(v.map(p => p.piece -> p.count) ==
      Seq("a" -> 1L, "ab" -> 3L, "b" -> 2L), s"$v")
    assert(v.map(_.costMicro) == Seq(
      Unigram.costMicro(1, 6), Unigram.costMicro(3, 6),
      Unigram.costMicro(2, 6)), s"$v")
    // serve path: trained vocab segments like the training walk
    val enc = Seq("ab", "b", "abab", "ba")
      .toDF("w").select(col("w"),
        Unigram.encodeWord(col("w"), v, maxPieceLen = 2).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(enc("ab") == Seq("ab") && enc("abab") == Seq("ab", "ab"))
    assert(enc("b") == Seq("b") && enc("ba") == Seq("b", "a"))
  }

  test("UnigramEncode: equal-cost segmentations break to the SHORTER " +
    "piece; unknown chars segment as themselves at unkCost; pieces " +
    "always concatenate back to the word") {
    import graft.functions.UnigramEncode
    // costs crafted so [aa] and [a,a] tie at 20 -> shorter piece wins
    val tie = Map("a" -> 10L, "aa" -> 20L)
    val seg = Seq("aa", "aaa")
      .toDF("w").select(col("w"),
        UnigramEncode(col("w"), tie, 2, 1000000L).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(seg("aa") == Seq("a", "a"), s"tie must break short: $seg")
    assert(seg("aaa") == Seq("a", "a", "a"))
    // a vocab char beats the unk fallback; a truly novel char falls
    // back to itself (total segmentation, never a crash)
    val v = Map("a" -> 10L, "ab" -> 15L, "b" -> 12L)
    val out = Seq("azb")
      .toDF("w").select(UnigramEncode(col("w"), v, 2, 1000000L).as("t"))
      .collect().head.getSeq[String](0).toSeq
    assert(out == Seq("a", "z", "b"), s"$out")
    // concatenation invariant on a corpus word sample with the real vocab
    val docs = Seq((1L, "ab ab ab b")).toDF("doc_id", "text")
    val vocab = graft.operators.Unigram.train(docs, "text", vocabSize = 3,
      maxPieceLen = 2, emRounds = 1, minSeedCount = 1L)
    val glued = Seq("abbbab", "bbb")
      .toDF("w").select(col("w"),
        concat_ws("", graft.operators.Unigram.encodeWord(col("w"), vocab, 2))
          .as("g"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(glued.forall { case (w, g) => w == g }, s"$glued")
  }

  test("Unigram: prune keeps the alphabet and the top multi pieces; " +
    "vocabSize below the alphabet fails loudly; save/load round-trips") {
    import graft.operators.Unigram
    val df = Seq((1L, "abc abc abc bc bc c")).toDF("doc_id", "text")
    // alphabet {a,b,c}; multis by count: bc(5) abc(3) ab(3) ... prune to 5
    val v = Unigram.train(df, "text", vocabSize = 5, maxPieceLen = 3,
      emRounds = 2, minSeedCount = 1L)
    assert(v.size == 5, s"$v")
    val chars = v.filter(_.piece.length == 1).map(_.piece)
    assert(chars == Seq("a", "b", "c"), s"alphabet must survive: $v")
    val e = intercept[IllegalArgumentException](
      Unigram.train(df, "text", vocabSize = 3, maxPieceLen = 3,
        emRounds = 1, minSeedCount = 1L))
    assert(e.getMessage.contains("alphabet"), e.getMessage)
    val dir = java.nio.file.Files.createTempDirectory("graft_uni").toString
    Unigram.save(spark, v, dir)
    assert(Unigram.load(spark, dir) == v, "save/load must round-trip")
  }

  test("Unigram.trainSoft: hand-worked forward-backward posteriors on " +
    "the ambiguous aa corpus — soft keeps the competing piece hard-EM " +
    "kills; soft == hard where words have one segmentation") {
    import graft.operators.Unigram
    // "aa" x3: seed a=6, aa=3 (total 9) -> p(a)=2/3, p(aa)=1/3.
    // Lattice of "aa": segs [a,a] (P=4/9) vs [aa] (P=1/3); alpha_end=7/9.
    // Edge posteriors: each a edge 4/7 -> micro 571429 (floor(.571428..e6
    // + .5)); aa edge 3/7 -> 428571. Per word a: 1142858, aa: 428571;
    // x cnt 3 -> a: 3428574, aa: 1285713; char smoothing +1e6.
    val amb = Seq((1L, "aa aa aa")).toDF("doc_id", "text")
    val soft = Unigram.trainSoft(amb, "text", vocabSize = 3,
      maxPieceLen = 2, emRounds = 1, minSeedCount = 2L)
    val softM = soft.map(p => p.piece -> p.count).toMap
    assert(softM == Map("a" -> 4428574L, "aa" -> 1285713L), s"$soft")
    // hard-EM: Viterbi cost(a,a) = 2*(-ln 2/3) < -ln(1/3) -> all mass on
    // [a,a], piece aa dies in the M-step
    val hard = Unigram.train(amb, "text", vocabSize = 3,
      maxPieceLen = 2, emRounds = 1, minSeedCount = 2L)
    assert(hard.map(_.piece) == Seq("a"),
      s"hard-EM must kill the unused piece: $hard")
    // unambiguous corpus (char-only vocab -> exactly one segmentation
    // per word): soft == hard piece-for-piece and cost-for-cost; soft
    // counts are the hard counts on the micro grid
    val un = Seq((1L, "ab ba ab")).toDF("doc_id", "text")
    val sU = Unigram.trainSoft(un, "text", vocabSize = 3,
      maxPieceLen = 2, emRounds = 2, minSeedCount = 99L)
    val hU = Unigram.train(un, "text", vocabSize = 3,
      maxPieceLen = 2, emRounds = 2, minSeedCount = 99L)
    assert(sU.map(p => (p.piece, p.costMicro)) ==
      hU.map(p => (p.piece, p.costMicro)), s"soft=$sU hard=$hU")
    assert(sU.map(_.count) == hU.map(_.count * 1000000L),
      "single-segmentation posteriors are exactly 1 on the micro grid")
  }

  test("UnigramExpectedCounts: lattice coverage sums to the word length " +
    "on the micro grid (up to per-edge rounding); forward-mass " +
    "underflow fails loudly") {
    import graft.functions.UnigramExpectedCounts
    val probs = Map("a" -> 0.3, "b" -> 0.2, "ab" -> 0.25, "ba" -> 0.25)
    val rows = Seq("abab", "aabb", "abba").toDF("w")
      .select(col("w"), explode(UnigramExpectedCounts(col("w"), probs, 2))
        .as("e"))
      .select(col("w"), col("e.piece").as("p"), col("e.ec_micro").as("m"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (w, es) =>
      val cover = es.map(e => e._3 * e._2.length).sum
      assert(math.abs(cover - w.length * 1000000L) <= es.length,
        s"$w: lattice coverage $cover must equal ${w.length}e6 " +
          "up to one grid step per edge")
    }
    val boom = intercept[Exception](
      Seq("a" * 4000).toDF("w")
        .select(UnigramExpectedCounts(col("w"), Map("a" -> 1e-200), 1))
        .collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(boom).exists(_.contains("underflow")), s"${msgs(boom)}")
  }

  test("Unigram.trainKudo: likelihood-loss prune keeps the irreplaceable " +
    "rare piece the frequency prune drops; agrees with frequency rank " +
    "where usage tracks likelihood") {
    import graft.operators.Unigram
    // designed divergence — the two ranks measure different things:
    // expected count is n·posterior (linear), loss is −n·ln(1−posterior)
    // (divergent as posterior→1). 'ab' has posterior ~0.6 in 10 words →
    // count ~6.2e6 micro, loss ~10·ln(2.6) ≈ 9.6 nats; 'xy' has
    // posterior ~1 in ONE word (x/y exist nowhere else, so the fallback
    // path costs two rare chars) → count ~1e6 micro (6× SMALLER) but
    // loss ln(~8e4) ≈ 11.3 nats (LARGER). The 80k-word filler 'c' sets
    // the total that makes ln(T) beat 10·ln(2.6)
    val df = Seq((1L, ("c " * 80000) + ("ab " * 10) + ("a " * 700) +
      ("b " * 700) + "xy")).toDF("doc_id", "text")
    val freq = Unigram.trainSoft(df, "text", vocabSize = 6,
      maxPieceLen = 2, emRounds = 1, minSeedCount = 1L)
    val kudo = Unigram.trainKudo(df, "text", vocabSize = 6,
      maxPieceLen = 2, emRounds = 1, minSeedCount = 1L)
    // alphabet {a,b,c,x,y} + ONE multi slot
    assert(freq.map(_.piece).filter(_.length > 1) == Seq("ab"),
      s"frequency prune keeps the frequent piece: $freq")
    assert(kudo.map(_.piece).filter(_.length > 1) == Seq("xy"),
      s"likelihood prune keeps the irreplaceable piece: $kudo")
    // where usage tracks likelihood (one multi, no competition) the two
    // prunes agree exactly — same pieces, same counts, same costs
    val plain = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val f2 = Unigram.trainSoft(plain, "text", vocabSize = 3,
      maxPieceLen = 2, emRounds = 1, minSeedCount = 1L)
    val k2 = Unigram.trainKudo(plain, "text", vocabSize = 3,
      maxPieceLen = 2, emRounds = 1, minSeedCount = 1L)
    assert(f2 == k2, s"$f2 vs $k2")
  }

  test("Unigram.utf8Order matches the engines' binary collation on " +
    "supplementary-plane pieces where JVM compareTo diverges") {
    import graft.operators.Unigram
    // U+10348 sits in the supplementary plane: its UTF-16 lead surrogate
    // (0xD800) ranks BELOW U+E000/U+FFFD under String.compareTo, while
    // both engines order by code point (UTF-8 bytes) where it ranks above
    val pieces = Seq("", new String(Character.toChars(0x10348)),
      "z", "�")
    val engine = pieces.toDF("p").orderBy("p")
      .collect().map(_.getString(0)).toSeq
    assert(pieces.sorted(Unigram.utf8Order) == engine,
      "driver sort must match the engines' binary collation")
    assert(pieces.sorted != engine,
      "fixture must actually exercise the UTF-16 divergence")
  }
}
