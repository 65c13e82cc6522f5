package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DedupIndex}

class DedupIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def corpus = docs.where(col("doc_id") % 2 === 0)
  private def batch = docs.where(col("doc_id") % 2 === 1)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_dedupidx_$tag").toString

  private def rows(df: DataFrame): Set[(Long, Boolean, Option[Double], Boolean)] =
    df.collect().map { r =>
      (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))
    }.toSet

  test("checkBatch over a built index == the in-memory dedupAgainstCorpus") {
    val dir = tmp("parity")
    DedupIndex.build(corpus, "doc_id", "text", dir, n = 3)
    val served = DedupIndex.checkBatch(batch, "doc_id", "text", dir,
      minJaccard = 0.5)
    val inMem = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text",
      n = 3, minJaccard = 0.5)
    assert(rows(served) == rows(inMem))
    assert(served.count() == batch.count()) // one verdict per batch doc
  }

  test("append is row-identical to a full rebuild (no trained state)") {
    val split = tmp("split"); val full = tmp("full")
    DedupIndex.build(corpus.where(col("doc_id") % 4 === 0),
      "doc_id", "text", split, n = 3)
    DedupIndex.append(corpus.where(col("doc_id") % 4 === 2),
      "doc_id", "text", split)
    DedupIndex.build(corpus, "doc_id", "text", full, n = 3)
    val a = DedupIndex.checkBatch(batch, "doc_id", "text", split, 0.5)
    val b = DedupIndex.checkBatch(batch, "doc_id", "text", full, 0.5)
    assert(rows(a) == rows(b))
  }

  test("meta is the commit marker: a build whose artifact write fails " +
    "leaves no readable index") {
    val shingles = Dedup.shingleHashRows(corpus, "doc_id", "text", 3)
    // the shingle and count writes succeed from the precomputed rows; the
    // fps write evaluates the text column, which throws
    val poisoned = corpus.withColumn("text",
      when(col("doc_id") >= 0, raise_error(lit("injected fps failure")))
        .otherwise(col("text")).cast("string"))
    def failedBuild(dir: String): Unit = {
      intercept[Exception] {
        DedupIndex.build(poisoned, "doc_id", "text", dir, n = 3,
          precomputedRows = Some(shingles))
      }
      assert(!new java.io.File(s"$dir/meta").exists(),
        "meta written over a partial index")
      intercept[Exception] { DedupIndex.append(batch, "doc_id", "text", dir) }
    }
    failedBuild(tmp("failed_fresh"))
    // a failed REBUILD must not leave the previous meta over new partial
    // artifacts either
    val rebuilt = tmp("failed_rebuild")
    DedupIndex.build(corpus, "doc_id", "text", rebuilt, n = 3)
    failedBuild(rebuilt)
  }

  test("broadcast check never shuffles the stored corpus tables") {
    val dir = tmp("plan")
    DedupIndex.build(corpus, "doc_id", "text", dir, n = 3)
    val plan = DedupIndex.checkBatch(batch, "doc_id", "text", dir, 0.5)
      .queryExecution.executedPlan.toString
    // both corpus-facing joins (shingle h-join, fp hit-join) must be
    // broadcast joins with the BATCH side built — the stored tables are
    // scanned in place. The verdict assembly SMJs on batch `id` are
    // batch×batch-sized and allowed; what must NOT appear is a shuffle
    // join on the corpus-facing keys.
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected >= 2 broadcast joins in:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin) \\[(h|fp)#".r
      .findFirstIn(plan).isEmpty,
      s"stored corpus side shuffle-joined on h/fp:\n$plan")
  }

  test("frozen meta: check hashes with the stored shingle width") {
    val dir = tmp("meta")
    DedupIndex.build(corpus, "doc_id", "text", dir, n = 5)
    val served = DedupIndex.checkBatch(batch, "doc_id", "text", dir, 0.5)
    val inMem = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text",
      n = 5, minJaccard = 0.5)
    assert(rows(served) == rows(inMem)) // n came from meta, not a default
  }

  test("compact shrinks the layout; verdicts unchanged on a clean index") {
    val dir = tmp("compact")
    val parts = (0 until 4).map(i => corpus.where(col("doc_id") % 8 === i * 2))
    DedupIndex.build(parts.head, "doc_id", "text", dir, n = 3)
    parts.tail.foreach(p => DedupIndex.append(p, "doc_id", "text", dir))
    def files(part: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir, part))
    }
    val before = rows(DedupIndex.checkBatch(batch, "doc_id", "text", dir, 0.5))
    val shinglesBefore = files("shingles")
    DedupIndex.compact(spark, dir)
    assert(rows(DedupIndex.checkBatch(batch, "doc_id", "text", dir, 0.5))
      == before, "verdicts must be byte-identical across the swap")
    assert(files("shingles") <= 4 && files("shingles") < shinglesBefore,
      s"layout must shrink: ${files("shingles")} vs $shinglesBefore")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.contains("compacting")), "no staging leftovers")
  }

  test("compact REPAIRS a double-appended index (shingle duplication is not harmless)") {
    import spark.implicits._
    // corpus doc 1 is an exact twin of batch doc 10; corpus doc 2 shares
    // exactly 4 of 9 3-shingles with batch doc 11:
    //   true j = 4/(9+9-4) = 0.286 < 0.5 → keep
    //   doubled shingle+count rows → j' = 2·4/(9+9-2·4) = 0.8 ≥ 0.5 → drop
    val textA = "a b c d e f g h i j k"
    val textB = "p q r s t u v w x y z"
    val nearB = "p q r s t u n1 n2 n3 n4 n5"
    val dir = tmp("repair")
    val corpus2 = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val batch2 = Seq((10L, textA), (11L, nearB)).toDF("doc_id", "text")
    DedupIndex.build(corpus2, "doc_id", "text", dir, n = 3)
    val clean = rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
    assert(clean.exists { case (id, _, bj, keep) =>
      id == 11L && bj.exists(j => math.abs(j - 4.0 / 14) < 1e-6) && keep })
    // the streaming crash window: doc 2 appended a second time
    DedupIndex.append(Seq((2L, textB)).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val corrupted = rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
    assert(corrupted.exists { case (id, _, bj, keep) =>
      id == 11L && bj.exists(_ > 0.5) && !keep },
      s"doubled rows must inflate best_jaccard and over-drop: $corrupted")
    DedupIndex.compact(spark, dir)
    assert(rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
      == clean, "compact must restore the single-append state exactly")
    // the worst case — a doubled doc met by its identical twin — zeroes
    // the Jaccard denominator (na+nb−inter = 18−18) and fails LOUDLY
    // under ANSI, never returning a silently-wrong verdict; compact is
    // the documented remediation and restores the clean state
    DedupIndex.append(Seq((1L, textA)).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val boom = intercept[Exception] {
      rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
    }
    assert(boom.toString.contains("DIVIDE_BY_ZERO") ||
      Option(boom.getCause).exists(_.toString.contains("DIVIDE_BY_ZERO")),
      s"expected the loud ANSI division failure, got: $boom")
    DedupIndex.compact(spark, dir)
    assert(rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
      == clean)
  }

  test("delete: tombstoned docs vanish from checks; compact drops them physically") {
    import spark.implicits._
    val textA = "a b c d e f g h i j k"
    val textB = "p q r s t u v w x y z"
    val dir = tmp("delete")
    DedupIndex.build(Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 3)
    val batch2 = Seq((10L, textA)).toDF("doc_id", "text")
    val hit = rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
    assert(hit.exists { case (id, ex, _, keep) => id == 10L && ex && !keep })
    DedupIndex.delete(Seq(1L).toDF("doc_id"), "doc_id", dir)
    val after = rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
    assert(after == Set((10L, false, None, true)),
      s"the deleted twin must stop matching: $after")
    val shinglesBefore = spark.read.parquet(s"$dir/shingles").count()
    DedupIndex.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/shingles").count() < shinglesBefore,
      "compact must physically drop tombstoned shingle rows")
    assert(spark.read.parquet(s"$dir/fps").where(col("id") === 1L).count() == 0)
    assert(!new java.io.File(dir, "tombstones").exists,
      "tombstones must clear after compact")
    assert(rows(DedupIndex.checkBatch(batch2, "doc_id", "text", dir, 0.5))
      == after, "verdicts must be stable across the physical drop")
  }

  test("bloom gate: wholly-novel batch skips the fps join; verdicts identical") {
    import spark.implicits._
    val dir = tmp("bloom")
    DedupIndex.build(corpus, "doc_id", "text", dir, n = 3)
    val novel = Seq((9_000_002L, "zz yy xx ww vv uu tt ss rr qq pp"))
      .toDF("doc_id", "text")
    val novelCheck = DedupIndex.checkBatch(novel, "doc_id", "text", dir, 0.5)
    val plan = novelCheck.queryExecution.executedPlan.toString
    assert(!plan.contains("/fps"),
      s"novel batch must not scan the stored fps table:\n$plan")
    assert(plan.contains("/shingles"), "sanity: the jaccard side still scans")
    assert(rows(novelCheck) == Set((9_000_002L, false, None, true)))
    // overlapping batch: bloom restricts but never changes the verdicts
    val gated = rows(DedupIndex.checkBatch(batch, "doc_id", "text", dir, 0.5))
    val ungated = rows(DedupIndex.checkBatch(batch, "doc_id", "text", dir, 0.5,
      useBloom = false))
    assert(gated == ungated, "bloom has no false negatives by contract")
  }

  test("path aliases share the sidecar memos: a check through `dir/` sees " +
    "an append through `dir`") {
    import spark.implicits._
    val dir = tmp("alias")
    DedupIndex.build(corpus, "doc_id", "text", dir, n = 3)
    val text = "zz yy xx ww vv uu tt ss rr qq pp oo"
    // the first check through the alias reads meta and bloom into memo
    DedupIndex.checkBatch(Seq((9_000_003L, text)).toDF("doc_id", "text"),
      "doc_id", "text", dir + "/", 0.5).collect()
    DedupIndex.append(Seq((9_000_004L, text)).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // an exact copy of the appended doc must pass the Bloom gate
    val verdicts = rows(DedupIndex.checkBatch(
      Seq((9_000_005L, text)).toDF("doc_id", "text"),
      "doc_id", "text", dir + "/", 0.5))
    assert(verdicts.map(_._2) == Set(true),
      s"a stale Bloom filter hid the appended copy: $verdicts")
  }

  test("streaming replay guard: re-delivered epoch leaves the index byte-identical") {
    import spark.implicits._
    val dir = tmp("replay")
    DedupIndex.build(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, n = 3)
    val epochDocs = Seq((10L, "fresh words about spark shuffles and joins"))
      .toDF("doc_id", "text")
    def snapshot(): (Set[String], Set[String], Set[String]) = (
      spark.read.parquet(s"$dir/shingles").collect().map(_.toString).toSet,
      spark.read.parquet(s"$dir/counts").collect().map(_.toString).toSet,
      spark.read.parquet(s"$dir/fps").collect().map(_.toString).toSet)
    graft.streaming.StreamIndexDedup.processEpoch(epochDocs, 0L, "doc_id",
      "text", dir, 0.5, appendKept = true)((_, _) => ())
    val once = snapshot()
    // the at-least-once replay: same epoch id re-delivered
    graft.streaming.StreamIndexDedup.processEpoch(epochDocs, 0L, "doc_id",
      "text", dir, 0.5, appendKept = true)((_, _) => ())
    assert(snapshot() == once,
      "replayed epoch must not double-append")
    // a genuinely new epoch still folds in
    graft.streaming.StreamIndexDedup.processEpoch(
      Seq((20L, "another new doc entirely about parquet pruning"))
        .toDF("doc_id", "text"), 1L, "doc_id", "text", dir, 0.5,
      appendKept = true)((_, _) => ())
    assert(snapshot() != once)
  }

  test("crash BETWEEN append and marker: replay restores the single-append " +
    "state byte-identically WITHOUT compact; sink rows identical") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog tonight"
    val keptText = "entirely fresh words about spark shuffles and broadcast joins"
    val dupText = corpusText // dropped by the check, never appended
    val epochDocs = Seq((10L, dupText), (11L, keptText)).toDF("doc_id", "text")

    def contents(dir: String): (Set[String], Set[String], Set[String]) = {
      def part(p: String): Set[String] =
        spark.read.parquet(s"$dir/$p").collect().map(_.toString).toSet
      (part("shingles"), part("counts"), part("fps"))
    }
    def build(dir: String): Unit =
      DedupIndex.build(Seq((1L, corpusText)).toDF("doc_id", "text"),
        "doc_id", "text", dir, n = 3)

    // reference: the epoch applied exactly once, cleanly
    val ref = tmp("replay_ref")
    build(ref)
    var refSink: Set[Long] = null
    graft.streaming.StreamIndexDedup.processEpoch(epochDocs, 0L, "doc_id",
      "text", ref, 0.5, appendKept = true) { (kept, _) =>
      refSink = kept.select("doc_id").collect().map(_.getLong(0)).toSet; ()
    }
    assert(refSink == Set(11L), s"sanity: $refSink")

    // crashed run: the append lands, the marker does NOT (the old weak
    // window) — simulated by driving the append directly
    val dir = tmp("replay_crash")
    build(dir)
    val kept0 = epochDocs.join(
      DedupIndex.checkBatch(epochDocs, "doc_id", "text", dir, 0.5,
          excludeEpoch = Some(0L))
        .where(col("keep")).select(col("id").as("doc_id"), col("best_jaccard")),
      Seq("doc_id"))
    DedupIndex.appendEpoch(kept0, "doc_id", "text", dir, 0L)
    assert(DedupIndex.lastAppliedEpoch(spark, dir).isEmpty,
      "sanity: the crash left no marker")

    // the at-least-once replay of the SAME epoch through the real loop
    var replaySink: Set[Long] = null
    graft.streaming.StreamIndexDedup.processEpoch(epochDocs, 0L, "doc_id",
      "text", dir, 0.5, appendKept = true) { (kept, _) =>
      replaySink = kept.select("doc_id").collect().map(_.getLong(0)).toSet; ()
    }
    // the sink saw the SAME kept rows the clean run saw (the epoch mask:
    // doc 11 must not exact-match its own crashed copy)
    assert(replaySink == refSink, s"replay sink $replaySink != $refSink")
    // the index is row-identical to the clean single apply — NO compact
    assert(contents(dir) == contents(ref),
      "replayed index must equal the single-apply index without compact")
    // and a later probe batch gets byte-identical verdicts from both
    val probe = Seq((20L, keptText), (21L, "wholly new probe text rows"))
      .toDF("doc_id", "text")
    assert(rows(DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5)) ==
      rows(DedupIndex.checkBatch(probe, "doc_id", "text", ref, 0.5)))
  }

  test("compactEvery: boundary compact folds epoch partitions in-loop; a " +
    "replay that STRADDLES the compact no-ops the index (verdicts stable) " +
    "and can only shrink the sink set; an unfolded epoch replays " +
    "byte-identically") {
    import spark.implicits._
    val dir = tmp("autocompact")
    val corpusText = "the quick brown fox jumps over the lazy dog tonight"
    DedupIndex.build(Seq((1L, corpusText)).toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 3)
    val eDocs = Map(
      0L -> Seq((10L, "entirely fresh words about spark shuffles and joins"),
        (19L, corpusText)), // exact dup of the corpus — dropped
      1L -> Seq((11L, "another new document entirely about parquet pruning")),
      2L -> Seq((12L, "a third novel doc on broadcast joins and skew salts")))
    var sinks = Map.empty[Long, Set[Long]]
    def run(e: Long): Unit =
      graft.streaming.StreamIndexDedup.processEpoch(
        eDocs(e).toDF("doc_id", "text"), e, "doc_id", "text", dir, 0.5,
        appendKept = true, compactEvery = 2) { (kept, ep) =>
        sinks += ep -> kept.select("doc_id").collect().map(_.getLong(0)).toSet
        ()
      }
    def epochDirs(part: String): Set[String] =
      new java.io.File(dir, part).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    run(0L)
    assert(epochDirs("shingles").contains("epoch=0"))
    // a batch-sized epoch lands as one file per table, not one per
    // shuffle partition
    Seq("shingles", "counts", "fps").foreach { part =>
      val files = new java.io.File(dir, s"$part/epoch=0").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$part: $files files for one epoch")
    }
    run(1L) // boundary: (1+1) % 2 == 0 → compact folds everything to base
    assert(epochDirs("shingles") == Set("epoch=-1"),
      s"boundary compact must fold the epoch partitions: ${epochDirs("shingles")}")
    run(2L) // accretes its own partition again
    assert(epochDirs("shingles") == Set("epoch=-1", "epoch=2"))
    assert(sinks(0L) == Set(10L) && sinks(1L) == Set(11L) &&
      sinks(2L) == Set(12L), s"sanity: $sinks")
    val probe = Seq((20L, "entirely fresh words about spark shuffles and joins"),
      (21L, "wholly new probe text rows")).toDF("doc_id", "text")
    val verdicts = rows(DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5))
    // replay epoch 0 — STRADDLES the compact: its stamps are folded away,
    // so the mask can no longer hide its rows; the kept set shrinks (doc
    // 10 exact-matches its own folded copy) but the INDEX no-ops at the
    // marker and every later verdict is unchanged — the documented
    // non-transactional-sink replay tolerance
    run(0L)
    assert(sinks(0L).isEmpty,
      s"straddling replay must see its own folded rows: ${sinks(0L)}")
    assert(rows(DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5)) ==
      verdicts, "index must be untouched by the straddling replay")
    assert(epochDirs("shingles") == Set("epoch=-1", "epoch=2"))
    // replay epoch 2 — NOT folded: the mask sees the pre-epoch state, the
    // sink rows are byte-identical and the index still no-ops
    run(2L)
    assert(sinks(2L) == Set(12L), s"unfolded replay must be byte-identical: ${sinks(2L)}")
    assert(rows(DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5)) ==
      verdicts)
  }

  test("compact refuses while an unmarked epoch is pending; proceeds once " +
    "the replay (or a manual record) seals it") {
    import spark.implicits._
    val dir = tmp("pending")
    DedupIndex.build(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, n = 3)
    val batch = Seq((10L, "fresh words about spark shuffles and joins"))
      .toDF("doc_id", "text")
    // epoch 3 appended, marker missing (the crash window)
    DedupIndex.appendEpoch(batch, "doc_id", "text", dir, 3L)
    val boom = intercept[IllegalStateException] {
      DedupIndex.compact(spark, dir)
    }
    assert(boom.getMessage.contains("epoch 3") &&
      boom.getMessage.contains("compact refused"), boom.getMessage)
    // sealing the epoch (what the stream's replay does) unblocks compact
    DedupIndex.recordAppliedEpoch(spark, dir, 3L)
    val before = rows(DedupIndex.checkBatch(
      Seq((20L, "fresh words about spark shuffles and joins"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, 0.5))
    DedupIndex.compact(spark, dir)
    assert(rows(DedupIndex.checkBatch(
      Seq((20L, "fresh words about spark shuffles and joins"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, 0.5)) == before)
  }

  test("streaming ingest with appendKept: later epochs dedupe against earlier") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("stream")
    val corpusA = "the quick brown fox jumps over the lazy dog tonight"
    val novel1 = "entirely fresh words about spark shuffles and broadcast joins"
    val novel2 = "another brand new document covering parquet pruning stats"
    DedupIndex.build(Seq((1L, corpusA)).toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 3)
    val mem = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = graft.streaming.StreamIndexDedup.writer(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text", dir,
        minJaccard = 0.5, appendKept = true) { (kept, epoch) =>
      seen(epoch) = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      ()
    }.start()
    try {
      mem.addData((10L, corpusA), (11L, novel1)) // 10 dups the corpus
      q.processAllAvailable()
      mem.addData((20L, novel1), (21L, novel2))  // 20 dups epoch-0's keeper
      q.processAllAvailable()
      val byEpoch = seen.toSeq.sortBy(_._1).map(_._2)
      assert(byEpoch == Seq(Set(11L), Set(21L)),
        s"expected epoch keeps [Set(11), Set(21)], got $byEpoch")
    } finally q.stop()
  }

  test("q_e7's stream face: a 3-epoch MemoryStream through curate → " +
    "index-dedup equals the epoch-driven batch replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{StreamCurate, StreamIndexDedup}
    val gopher = graft.operators.TextStats.GopherParams(minStopwordHits = 1)
    // 60+ words so every doc passes the Gopher gate; the word pools are
    // DISJOINT per doc index (w<i>x<j>) so distinct docs share ~no
    // shingles (a shared base would make them >0.5-Jaccard near-dups and
    // every epoch would drop to empty), while exact copies reuse the
    // full string; the short tail supplies the stopword hit
    def t(i: Int) = (0 until 60).map(w => s"w${i}x$w").mkString(" ") +
      " and the cat sat on a mat"
    val corpus = Seq((1L, t(0))).toDF("doc_id", "text")
    val epochs = Seq(
      Seq((10L, t(0)), (11L, t(1))), // 10 exact-dups the corpus
      Seq((20L, t(1)), (21L, t(2))), // 20 exact-dups epoch-0's keeper
      Seq((30L, t(3))))
    def freshIndex(): String = {
      val dir = tmp("e7face")
      DedupIndex.build(StreamCurate.curateStateless(corpus, "text", gopher),
        "doc_id", "text", dir, n = 3)
      dir
    }
    // stream path: a real 3-epoch MemoryStream through the same chain
    val dirS = freshIndex()
    val mem = MemoryStream[(Long, String)]
    val seenS = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = StreamIndexDedup.writer(
        StreamCurate.curateStateless(
          mem.toDS().toDF("doc_id", "text"), "text", gopher),
        "doc_id", "text", dirS, minJaccard = 0.5, appendKept = true) {
      (kept, e) =>
        seenS(e) = kept.select("doc_id").collect().map(_.getLong(0)).toSet
        ()
    }.start()
    try {
      epochs.foreach { batch => mem.addData(batch: _*); q.processAllAvailable() }
    } finally q.stop()
    // batch path: the q_e7 discipline — the factored epoch body directly
    val dirB = freshIndex()
    val seenB = scala.collection.mutable.Map[Long, Set[Long]]()
    epochs.zipWithIndex.foreach { case (batch, e) =>
      StreamIndexDedup.processEpoch(
        StreamCurate.curateStateless(batch.toDF("doc_id", "text"), "text",
          gopher), e.toLong, "doc_id", "text", dirB, 0.5,
        appendKept = true) { (kept, _) =>
        seenB(e.toLong) =
          kept.select("doc_id").collect().map(_.getLong(0)).toSet
        ()
      }
    }
    assert(seenS.toMap == seenB.toMap,
      s"stream keeps ${seenS.toMap} != batch keeps ${seenB.toMap}")
    assert(seenS(0L) == Set(11L) && seenS(1L) == Set(21L) &&
      seenS(2L) == Set(30L), s"expected keeps drifted: ${seenS.toMap}")
    // both index lifecycles answer a later probe identically
    val probe = Seq((40L, t(2)), (41L, t(9))).toDF("doc_id", "text")
    assert(rows(DedupIndex.checkBatch(probe, "doc_id", "text", dirS, 0.5)) ==
      rows(DedupIndex.checkBatch(probe, "doc_id", "text", dirB, 0.5)))
  }

  test("empty batch in, empty verdicts out; unknown text keeps") {
    val dir = tmp("empty")
    DedupIndex.build(corpus, "doc_id", "text", dir, n = 3)
    assert(DedupIndex.checkBatch(batch.limit(0), "doc_id", "text", dir, 0.5)
      .count() == 0)
    import spark.implicits._
    val novel = Seq((9_000_001L, "zyx wvu tsr qpo nml kji hgf edc ba"))
      .toDF("doc_id", "text")
    val out = DedupIndex.checkBatch(novel, "doc_id", "text", dir, 0.5)
      .collect()
    assert(out.length == 1 && out(0).getAs[Boolean]("keep")
      && !out(0).getAs[Boolean]("dropped_exact"))
  }
}
