package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOf, Dedup, Sampling, TextStats}
import graft.sources.Tables

/** Round-3 operators: as-of join, range join, contamination, repetition
  * metrics, shard packing, incremental corpus dedup. */
class PipelineOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val quotes = Seq(
    ("A", ts("2024-01-01 10:00:00"), 10.0),
    ("A", ts("2024-01-01 10:05:00"), 11.0),
    ("B", ts("2024-01-01 10:02:00"), 20.0)
  ).toDF("sym", "ts", "px").select($"sym", $"ts", $"px".as("q_px"))

  private lazy val trades = Seq(
    ("A", ts("2024-01-01 09:59:00"), 1L), // before any quote → null
    ("A", ts("2024-01-01 10:00:00"), 2L), // exact tie → inclusive match
    ("A", ts("2024-01-01 10:04:59"), 3L), // between quotes → first quote
    ("A", ts("2024-01-01 11:00:00"), 4L), // after both → latest quote
    ("B", ts("2024-01-01 10:03:00"), 5L), // other key
    ("C", ts("2024-01-01 10:03:00"), 6L)  // key with no quotes → null
  ).toDF("sym", "ts", "trade_id")

  test("as-of join: backward inclusive, per key, left outer") {
    val j = AsOf.asofJoinBackward(trades, quotes, Seq("sym"), "ts", "ts",
        Seq("q_px"), matchedTsName = "q_ts")
      .orderBy("trade_id").collect()
    val px = j.map(r => r.getAs[Long]("trade_id") ->
      Option(r.getAs[java.lang.Double]("q_px")).map(_.toDouble)).toMap
    assert(px(1L).isEmpty)
    assert(px(2L).contains(10.0)) // ts == quote ts is a match (inclusive)
    assert(px(3L).contains(10.0))
    assert(px(4L).contains(11.0))
    assert(px(5L).contains(20.0))
    assert(px(6L).isEmpty)
    // matched timestamp comes from the SAME row as the payload
    val r4 = j.find(_.getAs[Long]("trade_id") == 4L).get
    assert(r4.getAs[Timestamp]("q_ts") == ts("2024-01-01 10:05:00"))
  }

  test("as-of join: duplicate same-ts marks resolve payload-max in BOTH variants") {
    val dupQuotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 10.0),
      ("A", ts("2024-01-01 10:00:00"), 13.0), // same instant, higher px
      ("A", ts("2024-01-01 10:00:00"), 11.0)
    ).toDF("sym", "ts", "q_px")
    val t = Seq(("A", ts("2024-01-01 10:05:00"), 1L)).toDF("sym", "ts", "trade_id")
    val plain = AsOf.asofJoinBackward(t, dupQuotes, Seq("sym"), "ts", "ts",
      Seq("q_px")).head().getAs[Double]("q_px")
    val bucketed = AsOf.asofJoinBackwardBucketed(t, dupQuotes, Seq("sym"),
      "ts", "ts", Seq("q_px"), bucketSeconds = 3600)
      .head().getAs[Double]("q_px")
    assert(plain == 13.0 && bucketed == 13.0,
      s"tie must resolve payload-max on both paths: plain=$plain bucketed=$bucketed")
  }

  test("as-of join: MapType payload works on the plain path, loud on bucketed") {
    // maps carry fine through last(struct) (values need no ordering) but
    // cannot feed the bucketed variant's max(struct) aggregation
    val mapQuotes = Seq(("A", ts("2024-01-01 10:00:00"), Map("px" -> 10.0)))
      .toDF("sym", "ts", "q_map")
    val t = Seq(("A", ts("2024-01-01 10:05:00"), 1L)).toDF("sym", "ts", "trade_id")
    val plain = AsOf.asofJoinBackward(t, mapQuotes, Seq("sym"), "ts", "ts",
      Seq("q_map")).head()
    assert(plain.getAs[Map[String, Double]]("q_map") == Map("px" -> 10.0))
    val e = intercept[IllegalArgumentException] {
      AsOf.asofJoinBackwardBucketed(t, mapQuotes, Seq("sym"), "ts", "ts",
        Seq("q_map"), bucketSeconds = 3600)
    }
    assert(e.getMessage.contains("ORDERABLE") &&
      e.getMessage.contains("q_map"))
  }

  test("as-of join: tolerance nulls out stale matches") {
    val j = AsOf.asofJoinBackward(trades, quotes, Seq("sym"), "ts", "ts",
        Seq("q_px"), tolerance = Some(expr("INTERVAL 10 MINUTES")))
      .orderBy("trade_id").collect()
    val px = j.map(r => r.getAs[Long]("trade_id") ->
      Option(r.getAs[java.lang.Double]("q_px"))).toMap
    assert(px(3L).isDefined)  // 4:59 old → within tolerance
    assert(px(4L).isEmpty)    // 55 min old → nulled
  }

  test("as-of join: null keys and null right timestamps match nothing") {
    val nullQuotes = Seq(
      (Some("A"), Option.empty[Timestamp], Some(99.0)), // null ts: no match
      (Option.empty[String], Some(ts("2024-01-01 09:00:00")), Some(88.0)),
      (Some("A"), Some(ts("2024-01-01 10:00:00")), Some(10.0))
    ).toDF("sym", "ts", "q_px")
    val nullTrades = Seq(
      (Some("A"), Some(ts("2024-01-01 10:30:00")), 1L),
      (Option.empty[String], Some(ts("2024-01-01 10:30:00")), 2L) // null key
    ).toDF("sym", "ts", "trade_id")
    val j = AsOf.asofJoinBackward(nullTrades, nullQuotes, Seq("sym"), "ts",
        "ts", Seq("q_px")).collect()
      .map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[java.lang.Double]("q_px")).map(_.toDouble)).toMap
    assert(j(1L).contains(10.0)) // real mark wins, null-ts mark ignored
    assert(j(2L).isEmpty)        // null-keyed left row matches nothing
  }

  test("bucketed as-of equals the plain as-of (incl. cross-bucket seeds)") {
    // events every ~17 min, marks every ~97 min, buckets of 1 h: most
    // events' latest mark lives in an EARLIER bucket — the seed path
    val ev = spark.range(200).toDF("trade_id")
      .withColumn("sym", when($"trade_id" % 2 === 0, "A").otherwise("B"))
      .withColumn("ts", expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, trade_id * 1021)"))
    val mk = spark.range(20).toDF("mid")
      .withColumn("sym", when($"mid" % 2 === 0, "A").otherwise("B"))
      .withColumn("ts", expr("timestamp'2024-01-01 00:10:00' + make_interval(0,0,0,0,0,0, mid * 5821)"))
      .withColumn("m_px", $"mid".cast("double"))
      .select("sym", "ts", "m_px")
    def res(df: org.apache.spark.sql.DataFrame) =
      df.select("trade_id", "matched_ts", "m_px").collect()
        .map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    val plain = AsOf.asofJoinBackward(ev, mk, Seq("sym"), "ts", "ts", Seq("m_px"))
    val bucketed = AsOf.asofJoinBackwardBucketed(ev, mk, Seq("sym"), "ts",
      "ts", Seq("m_px"), bucketSeconds = 3600L)
    assert(res(bucketed) == res(plain))
    // tolerance evaluates against the TRUE mark age, seeds included
    val tol = Some(expr("INTERVAL 30 MINUTES"))
    val plainT = AsOf.asofJoinBackward(ev, mk, Seq("sym"), "ts", "ts",
      Seq("m_px"), tolerance = tol)
    val bucketedT = AsOf.asofJoinBackwardBucketed(ev, mk, Seq("sym"), "ts",
      "ts", Seq("m_px"), bucketSeconds = 3600L, tolerance = tol)
    assert(res(bucketedT) == res(plainT))
  }

  test("as-of join rejects payload/left column collisions") {
    intercept[IllegalArgumentException] {
      AsOf.asofJoinBackward(trades, quotes, Seq("sym"), "ts", "ts", Seq("ts"))
    }
  }

  private lazy val intervals = Seq(
    (100L, "A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:04:00")),
    (101L, "B", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00")),
    (102L, "A", ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00"))
  ).toDF("iv_id", "sym", "start_ts", "end_ts")

  test("range join: inclusive bounds, per key, binned == broadcast") {
    val binned = AsOf.rangeJoin(trades, intervals, Seq("sym"), "ts",
      "start_ts", "end_ts", Seq("iv_id"), binSeconds = 60L)
    val bcast = AsOf.broadcastRangeJoin(trades, intervals, Seq("sym"), "ts",
      "start_ts", "end_ts", Seq("iv_id"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("trade_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // trade 2 (10:00:00) hits iv 100's inclusive start; trade 3
    // (10:04:59) is past iv 100's 10:04:00 end; trade 5 inside iv 101
    val expected = Set((2L, 100L), (5L, 101L))
    assert(pairs(binned) == expected)
    assert(pairs(bcast) == expected)
  }

  test("range join fails loudly on an interval spanning too many bins") {
    val e = intercept[Exception] {
      AsOf.rangeJoin(trades, intervals, Seq("sym"), "ts", "start_ts",
        "end_ts", Seq("iv_id"), binSeconds = 1L, maxBinsPerInterval = 10)
        .count()
    }
    assert(e.getMessage.contains("bins"))
  }

  private lazy val contamDocs = Seq(
    (0L, "alpha beta gamma delta epsilon"),          // benchmark
    (1L, "alpha beta gamma delta epsilon"),          // fully contaminated
    (2L, "alpha beta gamma something else entirely"),// partial
    (3L, "totally unrelated content goes right here")// clean
  ).toDF("doc_id", "text")

  test("contamination: full / partial / clean fractions") {
    val c = Dedup.contamination(contamDocs.where($"doc_id" > 0),
        contamDocs.where($"doc_id" === 0), "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_sh"), r.getAs[Long]("n_hit"), r.getAs[Double]("frac")))).toMap
    assert(c(1L) == ((3L, 3L, 1.0)))
    assert(c(2L)._2 == 1L) // only "alpha beta gamma" survives
    assert(c(3L) == ((4L, 0L, 0.0)))
  }

  test("repetition stats: degenerate text scores high") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "six completely distinct words here now")
    ).toDF("doc_id", "text")
    val m = TextStats.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(m(1L).getAs[Long]("n_words") == 6L)
    assert(m(1L).getAs[Long]("n_uniq_words") == 1L)
    assert(m(1L).getAs[Double]("dup_word_frac") > 0.8)
    assert(m(1L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(m(2L).getAs[Double]("dup_word_frac") == 0.0)
    assert(m(2L).getAs[Double]("top_word_frac") < 0.2)
  }

  test("shard packing: deterministic, budget respected up to one-row overflow") {
    val df = spark.range(100).toDF("doc_id")
      .withColumn("grp", lit("g"))
      .withColumn("cost", lit(10L))
    val packed = Sampling.packIntoShards(df, "grp", "doc_id", "cost", budget = 35L)
    val sizes = packed.groupBy("shard").agg(sum("cost").as("c"), count(lit(1)).as("n"))
      .orderBy("shard").collect()
    // 10-cost rows into budget 35: a shard covers offsets [35k, 35k+35),
    // so interior shards carry 30 or 40 (full budget ± one-row overflow)
    assert(sizes.dropRight(1).forall { r =>
      val c = r.getAs[Long]("c"); c == 30L || c == 40L
    })
    assert(packed.where($"shard" < 0).count() == 0)
    // deterministic: same assignment on re-run
    val again = Sampling.packIntoShards(df, "grp", "doc_id", "cost", budget = 35L)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = packed.select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first == again)
  }

  test("stratified sample: per-group fractions, pure function of id") {
    val df = spark.range(10000).toDF("doc_id")
      .withColumn("grp", when($"doc_id" % 3 === 0, "a")
        .when($"doc_id" % 3 === 1, "b").otherwise("c"))
    val sampled = Sampling.stratifiedSample(df, "grp",
      Map("a" -> 0.1, "b" -> 1.0), defaultFraction = 0.5, idCol = "doc_id")
    val n = sampled.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(n("a") / 3334.0 - 0.1) < 0.03)
    assert(n("b") == 3333L) // fraction 1.0 keeps every row
    assert(math.abs(n("c") / 3333.0 - 0.5) < 0.05)
    // determinism: re-run yields the identical id set
    val ids1 = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratifiedSample(df, "grp",
        Map("a" -> 0.1, "b" -> 1.0), 0.5, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("mixture: epoch factors oversample, zero drops, one keeps whole; no shuffle") {
    val df = spark.range(6000).toDF("doc_id")
      .withColumn("src", when($"doc_id" % 3 === 0, "a")
        .when($"doc_id" % 3 === 1, "b").otherwise("c"))
    val mixed = Sampling.mixture(df, "src",
      Map("a" -> 2.5, "b" -> 0.0), defaultWeight = 1.0, idCol = "doc_id")
    val byEpoch = mixed.groupBy("src", "epoch").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // weight 2.5: epochs 0 and 1 keep every row, epoch 2 samples ~50%
    assert(byEpoch(("a", 0)) == 2000L && byEpoch(("a", 1)) == 2000L)
    assert(math.abs(byEpoch(("a", 2)) / 2000.0 - 0.5) < 0.05)
    // weight 0 contributes nothing; weight 1.0 keeps exactly one epoch
    assert(!byEpoch.keys.exists(_._1 == "b"))
    assert(byEpoch(("c", 0)) == 2000L && !byEpoch.contains(("c", 1)))
    // copies of one doc stay distinguishable and membership is reproducible
    assert(mixed.groupBy("doc_id", "epoch").count()
      .where($"count" > 1).isEmpty)
    val again = Sampling.mixture(df, "src",
        Map("a" -> 2.5, "b" -> 0.0), 1.0, "doc_id")
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(mixed.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet == again)
    // map-side only: the realization plans without any exchange
    val plan = mixed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mixture should not shuffle:\n$plan")
  }

  test("chunking: overlapping windows cover every word, short docs = one chunk") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 words
      (2L, "just a short one")                          // < chunk size
    ).toDF("doc_id", "text")
    val c = TextStats.chunkWords(docs, "doc_id", "text",
        chunkWords = 40, overlapWords = 8)
      .orderBy("id", "chunk_idx").collect()
    val doc1 = c.filter(_.getLong(0) == 1L)
    // starts 0, 32, 64 → 40, 40, 36 words; consecutive chunks share 8
    assert(doc1.map(_.getAs[Long]("n_words")).toSeq == Seq(40L, 40L, 36L))
    val ch0 = doc1(0).getAs[String]("chunk").split(" ")
    val ch1 = doc1(1).getAs[String]("chunk").split(" ")
    assert(ch0.takeRight(8).toSeq == ch1.take(8).toSeq) // overlap region
    assert(ch0.head == "w1" && doc1(2).getAs[String]("chunk").endsWith("w100"))
    val doc2 = c.filter(_.getLong(0) == 2L)
    assert(doc2.length == 1 && doc2(0).getAs[Long]("n_words") == 4L)
  }

  test("line dedup: repeated lines dropped, order kept, blanks immune") {
    val docs = Seq(
      (1L, "keep me\nBOILER\nalso mine"),
      (2L, "BOILER\nunique two"),
      (3L, "BOILER\n\nBOILER"), // fully boilerplate (+ blank, never counted)
      (4L, "  \nsolo")          // whitespace line is not countable
    ).toDF("doc_id", "text")
    val out = TextStats.dropRepeatedLines(docs, "doc_id", "text", minDocFreq = 2)
      .orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq ==
      Seq("keep me\nalso mine", "unique two", "", "  \nsolo"))
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 1L, 1L, 2L)) // n_kept (blank kept)
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 1L, 2L, 0L)) // n_dropped
    // within-doc repetition alone never crosses the doc-frequency bar
    val solo = TextStats.dropRepeatedLines(
      Seq((9L, "twice\ntwice")).toDF("doc_id", "text"), "doc_id", "text", 2)
    assert(solo.head().getString(1) == "twice\ntwice")
  }

  test("markup strip: tags, entities, whitespace; documented limits hold") {
    val cases = Seq(
      (1L, "<p>hello <b>world</b></p>", "hello world"),
      (2L, "a &amp;lt; b", "a &lt; b"),            // &amp; decoded LAST
      (3L, "x &lt;tag&gt; &quot;q&quot; &apos;a&apos;", "x <tag> \"q\" 'a'"),
      (4L, "n&#65;m", "n m"),                       // numeric ref dropped
      (5L, "<a href=\"u\">link</a>\n\t more", "link more"),
      (6L, "plain text untouched", "plain text untouched"),
      // documented regex limit: '>' inside a quoted attribute ends the tag
      (7L, "<a title=\"a>b\">t</a>", "b\">t")
    ).toDF("id", "raw", "expect")
    val out = cases.select(col("id"), col("expect"),
        graft.operators.TextStats.stripMarkup(col("raw")).as("got"))
      .collect()
    out.foreach(r => assert(r.getString(2) == r.getString(1),
      s"case ${r.getLong(0)}: got '${r.getString(2)}'"))
  }

  test("hashed classifier: deterministic, integer sum, dim guard") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "ALPHA beta GAMMA"))
      .toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
        TextStats.hashedClassifierWeightSum(col("text"), 64).as("w"),
        TextStats.hashedClassifierScore(col("text"), 64).as("s"))
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == r(2).getLong(1), "case-insensitive bucketing")
    assert(r(1).getLong(1) == 0L && r(1).getDouble(2) == 0.5) // empty doc
    assert(r(0).getDouble(2) > 0 && r(0).getDouble(2) < 1)
    intercept[IllegalArgumentException] {
      docs.select(TextStats.hashedClassifierScore(col("text"), 0))
    }
  }

  test("sequence packing: exact-length tiling, span continuity, zero-cost dropped") {
    val docs = Seq(
      (1L, "g", 7L), (2L, "g", 13L), (3L, "g", 4L), (4L, "g", 25L),
      (5L, "g", 0L),                       // zero-cost: no span
      (6L, "h", 3L)                        // tiny group: one short sequence
    ).toDF("id", "grp", "cost")
    val L = 10L
    val out = graft.operators.Sampling
      .packSequences(docs, "grp", "id", "cost", seqLen = L)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("id"),
        r.getAs[Long]("seq_no"), r.getAs[Long]("tok_start"),
        r.getAs[Long]("tok_end"), r.getAs[Long]("seq_offset")))
    assert(!out.exists(_._2 == 5L), "zero-cost row must emit no span")
    // each doc's spans tile [0, cost) contiguously and in order
    val costs = Map(1L -> 7L, 2L -> 13L, 3L -> 4L, 4L -> 25L, 6L -> 3L)
    costs.foreach { case (id, c) =>
      val spans = out.filter(_._2 == id).sortBy(_._4).map(s => (s._4, s._5))
      assert(spans.head._1 == 0 && spans.last._2 == c,
        s"doc $id spans must cover [0, $c): ${spans.mkString}")
      spans.sliding(2).foreach {
        case Array((_, e), (s2, _)) => assert(e == s2, s"doc $id gap at $e")
        case _ => ()
      }
    }
    // every sequence except each group's last holds exactly L tokens,
    // tiled with no gaps from offset 0
    val byGroupSeq = out.groupBy(s => (s._1, s._3))
    val lastSeq = out.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    byGroupSeq.foreach { case ((g, seq), spans) =>
      val sorted = spans.sortBy(_._6)
      assert(sorted.head._6 == 0, s"($g,$seq) must start at offset 0")
      val total = spans.map(s => s._5 - s._4).sum
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._6 + (a._5 - a._4) == b._6,
          s"($g,$seq) span gap")
        case _ => ()
      }
      if (seq != lastSeq(g))
        assert(total == L, s"($g,$seq) must hold exactly $L tokens, got $total")
    }
    // group g has 49 tokens → 5 sequences (last holds 9); h has 1 short
    assert(lastSeq("g") == 4L && lastSeq("h") == 0L)
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.packSequences(docs, "grp", "id", "cost", 0)
    }
  }

  test("best-fit packing: hand-worked manifest, no bin exceeds maxLen, " +
    "waste <= sequential first-fit, layout invariance, loud overflow") {
    import graft.operators.Sampling
    // hand-worked: lengths [300, 300, 212, 212, 100, 100], maxLen 512.
    // Desc: 300s -> bin0 (rem 212), bin1 (rem 212); 212s -> bin0 (rem 0),
    // bin1 (rem 0); 100s -> no fit -> bin2 takes both (rem 312).
    val hand = Sampling.bestFitManifest("g",
      Seq(300L -> 2L, 212L -> 2L, 100L -> 2L), 512L)
    assert(hand.map(r => (r.len, r.off, r.cnt, r.bin)) == Seq(
      (300L, 0L, 1L, 0L), (300L, 1L, 1L, 1L),
      (212L, 0L, 1L, 0L), (212L, 1L, 1L, 1L),
      (100L, 0L, 2L, 2L)), s"$hand")
    // skewed fixture: long docs + a tail of shorts (seeded)
    val rnd = new scala.util.Random(5)
    val rows = (1L to 60L).map(i => (i, "g",
      if (i <= 20) 150L + rnd.nextInt(100) else 20L + rnd.nextInt(40)))
    val df = rows.toDF("id", "grp", "cost")
    val maxLen = 256L
    val out = Sampling.packBestFit(df, "grp", "id", col("cost"), maxLen)
      .select("id", "len", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 60, "every doc must land in exactly one bin")
    val fills = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(fills.values.forall(_ <= maxLen),
      s"no bin may exceed maxLen: $fills")
    // the driver-side manifest is bounded by bins x length classes,
    // never by the doc count
    val hist = rows.groupBy(_._3).view.mapValues(_.size.toLong).toSeq
    val manifest = Sampling.bestFitManifest("g", hist, maxLen)
    assert(manifest.size <= fills.size * hist.size,
      s"${manifest.size} manifest rows for ${fills.size} bins x ${hist.size} classes")
    val waste = fills.values.map(maxLen - _).sum
    // baseline: sequential first-fit in the SAME (hash, id) doc order
    // without splitting — open a new bin when the next doc overflows
    def hash24(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id|graft".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString, 16)
    val hashed = rows.sortBy { case (id, _, _) => (hash24(id), id) }
    var rem = 0L; var bins = 0L; var used = 0L
    hashed.foreach { case (_, _, c) =>
      if (c > rem) { bins += 1; rem = maxLen }
      rem -= c; used += c
    }
    val baselineWaste = bins * maxLen - used
    assert(waste <= baselineWaste,
      s"best-fit waste $waste must not exceed first-fit $baselineWaste")
    // layout invariance: repartitioned + reversed input -> same bins
    val shuffled = Sampling.packBestFit(
        df.orderBy(col("id").desc).repartition(7), "grp", "id",
        col("cost"), maxLen)
      .select("id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(out.map(o => o._1 -> o._3).toMap == shuffled,
      "assignment must be a pure function of the data")
    // cost > maxLen fails loudly, naming the chunking escape hatch
    val boom = intercept[Exception](Sampling.packBestFit(
      Seq((99L, "g", 300L)).toDF("id", "grp", "cost"), "grp", "id",
      col("cost"), 256L).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(boom).exists(m => m != null && m.contains("packSequences")),
      s"overflow must point at the chunker: ${msgs(boom)}")
  }

  test("best-fit packing: null and timestamp groups land in bins (the " +
    "manifest keys by the engine's cast, not JVM toString)") {
    import graft.operators.Sampling
    // null group: String.valueOf(null) = "null" vs SQL cast NULL used to
    // drop these rows from the inner range-join silently
    val withNull = Seq((1L, Some("g"), 100L), (2L, None, 100L),
      (3L, None, 150L)).toDF("id", "grp", "cost")
    val outN = Sampling.packBestFit(withNull, "grp", "id", col("cost"), 256L)
    assert(outN.count() == 3L, "every doc (null group included) must pack")
    assert(outN.where(col("grp").isNull).count() == 2L)
    // timestamp group: java.sql.Timestamp.toString appends ".0" while
    // Spark's cast renders "yyyy-MM-dd HH:mm:ss" — keys must agree
    val ts = Timestamp.valueOf("2024-03-01 10:00:00")
    val withTs = Seq((1L, ts, 100L), (2L, ts, 120L))
      .toDF("id", "grp", "cost")
    val outT = Sampling.packBestFit(withTs, "grp", "id", col("cost"), 256L)
      .select("id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(outT.length == 2, s"timestamp-grouped docs must pack: ${outT.toSeq}")
    assert(outT.map(_._2).distinct.length == 1,
      "220 total cost fits one 256-bin")
  }

  test("doremiWeights: high-excess domain rises monotonically, low-excess " +
    "falls, weights stay a distribution, smoothing floors the minimum") {
    import graft.operators.Sampling
    // planted: domain A hurts (excess 2.0), B is easy (0.1), C middling
    val rows = (1L to 300L).map { i =>
      val dom = (i % 3) match { case 0 => "A"; case 1 => "B"; case _ => "C" }
      val x = dom match { case "A" => 2.0; case "B" => 0.1; case _ => 0.5 }
      (i, dom, x)
    }
    val df = rows.toDF("id", "dom", "x")
    val out = Sampling.doremiWeights(df, "dom", "id", col("x"),
        rounds = 5, eta = 1.0, smoothing = 0.02, sampleFrac = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val w = out.groupBy(_._2).view
      .mapValues(_.sortBy(_._1).map(_._4)).toMap
    // A's weight rises EVERY round; B's falls every round
    assert(w("A").sliding(2).forall(p => p(1) > p(0)),
      s"high-excess domain must rise monotonically: ${w("A")}")
    assert(w("B").sliding(2).forall(p => p(1) < p(0)),
      s"low-excess domain must fall monotonically: ${w("B")}")
    assert(w("A").last > w("C").last && w("C").last > w("B").last,
      s"final order must follow excess: $w")
    // each round's weights sum to ~1e6 (re-grid rounding only) and the
    // uniform smoothing keeps every domain above c/k
    out.groupBy(_._1).foreach { case (t, rs) =>
      val s = rs.map(_._4).sum
      assert(math.abs(s - 1000000L) <= rs.size,
        s"round $t weights must sum to ~1e6: $s")
    }
    val floorW = (0.02 / 3 * 1e6).toLong
    assert(out.forall(_._4 >= floorW),
      s"smoothing must floor every weight at ~$floorW")
    // λ is the gridded mean excess at full sampling: A = 2e6 exactly
    val lmA = out.filter(o => o._2 == "A").map(_._3).distinct.toSeq
    assert(lmA == Seq(2000000L), s"planted λ(A): $lmA")
  }

  test("tfidf top terms: hand-checked scores, ubiquitous term scores zero") {
    // N = 3 docs; "apple" in all → idf ln(1) = 0; "banana"/"cherry"
    // unique → idf ln(3); doc 3 has only the zero-scored term
    val docs = Seq((1L, "apple banana"), (2L, "apple cherry"), (3L, "apple"))
      .toDF("doc_id", "text")
    val out = TextStats.tfidfTopTerms(docs, "doc_id", "text", topK = 2)
      .orderBy("doc_id", "rank").collect()
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln3 = r6(math.log(3.0))
    assert(out.length == 5) // 2 + 2 + 1 rows
    assert(out(0).getString(2) == "banana" && out(0).getDouble(3) == ln3)
    assert(out(1).getString(2) == "apple" && out(1).getDouble(3) == 0.0)
    // the zero score carries a POSITIVE sign bit (the driver hash cares)
    assert(math.copySign(1.0, out(1).getDouble(3)) == 1.0)
    assert(out(2).getString(2) == "cherry" && out(2).getDouble(3) == ln3)
    assert(out(4).getLong(1) == 1 && out(4).getString(2) == "apple")
  }

  test("bigram LM: hand-checked nll, repeated text scores lower, short docs null") {
    // corpus: "a b" ×2, "a c" ×1, "solo" → c(a·)=3, c(ab)=2, c(ac)=1,
    // V = |{a, b, c, solo}| = 4 ("solo" forms no bigram but IS vocabulary)
    // nll(ab) = ln(3 + 0.5·4) − ln(2 + 0.5) = ln(5) − ln(2.5)
    // nll(ac) = ln(5) − ln(1.5)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"),
      (5L, "")).toDF("doc_id", "text")
    val out = TextStats.bigramLm(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ab = r6(math.log(5.0) - math.log(2.5))
    val ac = r6(math.log(5.0) - math.log(1.5))
    assert(out(0).getLong(1) == 1 && out(0).getDouble(2) == ab)
    assert(out(1).getDouble(2) == ab)
    assert(out(2).getDouble(2) == ac)
    // the twice-seen bigram is less surprising than the once-seen one
    assert(ab < ac)
    assert(out(3).getLong(1) == 0 && out(3).isNullAt(2), "1-token doc: no bigrams")
    assert(out(4).getLong(1) == 0 && out(4).isNullAt(2), "empty doc: no bigrams")
  }

  test("Pipeline.curate: dedups, gates, scrubs, splits, packs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near a quiet river bank today", "en", 70L),
      (2L, "THE QUICK BROWN FOX jumps over a lazy dog near a quiet river bank today", "en", 70L), // dup of 1
      (3L, "??!! ###", "en", 8L), // fails quality gate
      (4L, "write to admin@example.com about the schedule for a new trip", "en", 60L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val out = graft.api.Pipeline.curate(docs, "doc_id", "text", "lang", "n_chars")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L)) // 2 deduped (keeper=1), 3 gated out
    val scrubbed = out.where($"doc_id" === 4L).select("text").collect()(0).getString(0)
    assert(scrubbed.contains("<EMAIL>") && !scrubbed.contains("@example.com"))
    assert(out.columns.contains("split") && out.columns.contains("shard"))
  }

  test("Pipeline.curateStrict: gopher gate, substring dedup, token cost") {
    val passage = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"the first document keeps $passage and other fine prose with the usual words", "en", 70L),
      (2L, s"THE FIRST DOCUMENT KEEPS $passage and other fine prose with the usual words", "en", 70L), // exact dup of 1
      (3L, "- the alpha item one\n- the beta item two\n- the gamma item three", "en", 60L), // all bullet lines
      (4L, s"seven eight nine $passage write to admin@example.com about the deal", "en", 60L),
      // 9 tokens, under gramLen: only the exact-dup stage can drop 6
      (5L, "the cat sat with the dog to be there", "en", 36L),
      (6L, "The cat sat with the dog, to be there!", "en", 38L) // exact dup of 5
    ).toDF("doc_id", "text", "lang", "n_chars")
    val out = graft.api.Pipeline.curateStrict(docs, "doc_id", "text", "lang",
      "n_chars", gramLen = 10,
      gopher = graft.operators.TextStats.GopherParams(
        minWords = 8, minStopwordHits = 1))
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 2 and 6 exact-deduped (keepers 1 and 5), 3 gopher-dropped (bullet lines)
    assert(rows.keySet == Set(1L, 4L, 5L), s"got ${rows.keySet}")
    val t1 = rows(1L).getAs[String]("text")
    val t4 = rows(4L).getAs[String]("text")
    // doc 1 holds the first occurrence of the passage; doc 4 loses it
    assert(t1.contains("tok1 tok2") && !t4.contains("tok1"))
    // PII scrubbed BEFORE normalization: no email artifacts survive
    assert(!t4.contains("example") && !t4.contains("@"))
    // cost column rewritten to the kept-token count
    for ((id, r) <- rows) {
      val toks = r.getAs[String]("text").split(" ").count(_.nonEmpty)
      assert(r.getAs[Long]("n_chars") == toks.toLong,
        s"doc $id cost must equal kept tokens: ${r.getAs[Long]("n_chars")} vs $toks")
    }
    assert(out.columns.contains("split") && out.columns.contains("shard"))
  }

  test("Pipeline.prepareSequences: curated train split packs losslessly, test never enters") {
    val docs = (1 to 40).map(i =>
      (i.toLong, s"document number $i with enough ordinary words to pass the gate easily",
        "en", 60L + i)).toDF("doc_id", "text", "lang", "n_chars")
    val curated = graft.api.Pipeline.curate(docs, "doc_id", "text", "lang", "n_chars")
    val train = curated.where($"split" === "train")
    val packed = graft.api.Pipeline.prepareSequences(docs, "doc_id", "text",
      "lang", "n_chars", seqLen = 128L)
    // span tokens conserve the curated TRAIN total exactly
    val packedTotal = packed.agg(sum($"tok_end" - $"tok_start")).head().getLong(0)
    val trainTotal = train.agg(sum("n_chars")).head().getLong(0)
    assert(packedTotal == trainTotal,
      s"packed $packedTotal must equal curated train total $trainTotal")
    // no held-out doc may appear in any training sequence
    val testIds = curated.where($"split" === "test")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val packedIds = packed.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(testIds.nonEmpty && packedIds.intersect(testIds).isEmpty,
      "test-split docs leaked into training sequences")
  }

  test("incremental dedup vs corpus: exact, near, and clean batch docs") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some existing corpus document with plenty of words")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
      (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 0
      (5L, "entirely novel text that matches nothing else")  // clean
    ).toDF("doc_id", "text")
    val r = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text", n = 3,
        minJaccard = 0.5)
      .collect().map(x => x.getAs[Long]("id") -> x).toMap
    assert(r(1L).getAs[Boolean]("dropped_exact"))
    assert(!r(1L).getAs[Boolean]("keep"))
    assert(!r(3L).getAs[Boolean]("dropped_exact"))
    assert(r(3L).getAs[Double]("best_jaccard") == 0.75 && !r(3L).getAs[Boolean]("keep"))
    assert(r(5L).getAs[Boolean]("keep"))
    assert(r(5L).isNullAt(r(5L).fieldIndex("best_jaccard")))
  }

  test("exact substring dedup: first occurrence survives, overlaps chain") {
    val passage = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 tokens
    val docs = Seq(
      1L -> s"one two three $passage four five six",
      2L -> s"seven eight nine $passage ten eleven twelve", // copies the passage
      3L -> "completely different words that never repeat anywhere else",
      // self-repetition: the same 10-gram twice inside ONE doc
      4L -> (s"$passage zz $passage")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(docs, "doc_id", "text", gramLen = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 holds the global first occurrence → intact
    assert(out(1L).getAs[Long]("n_removed") == 0L)
    assert(out(1L).getAs[String]("text_clean").contains("tok1 tok2"))
    // doc 2's copy: three overlapping repeated 10-grams merge into ONE
    // 12-token span; the non-shared frame stays
    assert(out(2L).getAs[Long]("n_removed") == 12L)
    assert(out(2L).getAs[String]("text_clean") ==
      "seven eight nine ten eleven twelve")
    assert(out(3L).getAs[Long]("n_removed") == 0L)
    // doc 4: its first passage copy already repeats doc 1's → both go;
    // every 10-gram crossing the zz bridge is unique, so zz survives
    assert(out(4L).getAs[String]("text_clean") == "zz",
      s"got: ${out(4L).getAs[String]("text_clean")}")
    // spans frame is half-open and merged
    val spans = Dedup.exactSubstringSpans(docs, "doc_id", "text", 10)
      .where(col("id") === 2L).collect()
    assert(spans.length == 1 &&
      spans(0).getAs[Int]("end") - spans(0).getAs[Int]("start") == 12)
    // short docs (< gramLen tokens) pass through untouched
    val shortDoc = Dedup.exactSubstringDedup(
      Seq(9L -> "only few words here").toDF("doc_id", "text"),
      "doc_id", "text", gramLen = 10).collect()(0)
    assert(shortDoc.getAs[Long]("n_removed") == 0L &&
      shortDoc.getAs[Long]("n_tokens") == 4L)
    // the gram subtree (tokenize + hash) is computed ONCE: the shared
    // gh exchange feeds both the first-occurrence aggregate and the
    // join back, and the executed plan must show the second consumer
    // reading a ReusedExchange, not a second tokenize subtree
    val spansDf = Dedup.exactSubstringSpans(docs, "doc_id", "text", 10)
    spansDf.collect()
    val spanPlan = spansDf.queryExecution.executedPlan.toString
    assert(spanPlan.contains("ReusedExchange"),
      s"gram exchange must be reused, not recomputed:\n$spanPlan")
  }

  test("gopher rules: each rule flips keep independently") {
    val prose = ("the data and the model have to be of use with " * 6).trim
    val docs = Seq(
      1L -> prose,                                   // 60 words, plain prose
      2L -> "the short one",                         // word band (too few)
      3L -> ("the " + "pneumonoultramicroscopics " * 60).trim, // mean len > 10
      4L -> ("the be to of and that have with " +
        (1 to 52).map(_.toString).mkString(" ")),    // digits: alpha frac < 0.8
      5L -> (prose + " " + "#" * 10),                // symbol ratio ≥ 0.1
      6L -> (1 to 10).map(i => s"- the item $i of the set with all parts be that have").mkString("\n"), // all bullet lines
      7L -> (1 to 10).map(i => s"the part $i of the doc that we have with more...").mkString("\n"), // all ellipsis lines
      8L -> ("green ideas sleep furiously under glass towers " * 8).trim // < 2 stopwords
    ).toDF("doc_id", "text")
    val out = TextStats.gopherQualityFlags(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"), s"prose must pass: ${out(1L)}")
    for (id <- 2L to 8L)
      assert(!out(id).getAs[Boolean]("keep"), s"doc $id must fail: ${out(id)}")
    // the failing metric is the intended one
    assert(out(2L).getAs[Long]("n_words") < 50)
    assert(out(3L).getAs[Double]("mean_word_len") > 10.0)
    assert(out(4L).getAs[Double]("alpha_word_frac") < 0.8)
    assert(out(5L).getAs[Double]("symbol_ratio") >= 0.1)
    assert(out(6L).getAs[Double]("bullet_line_frac") >= 0.9)
    assert(out(7L).getAs[Double]("ellipsis_line_frac") >= 0.3)
    assert(out(8L).getAs[Long]("stop_hits") < 2)
    // empty text: guarded divisions, word band rejects
    val empty = TextStats.gopherQualityFlags(
      Seq(9L -> "").toDF("doc_id", "text"), "doc_id", "text").collect()(0)
    assert(!empty.getAs[Boolean]("keep") && empty.getAs[Long]("n_words") == 0L)
  }

  test("mixtureSolve: targets, epoch cap, deficit; absent groups get 0") {
    val rows = Seq(
      ("a", 60L), ("a", 40L),       // 100 tokens
      ("b", 50L), ("c", 10L), ("d", 30L)
    ).toDF("src", "toks")
    val out = Sampling.mixtureSolve(rows, "src", col("toks"),
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2),
        budgetTokens = 1000L, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 4)
    def f(g: String, c: String) = out(g).getAs[Double](c)
    assert(out("a").getAs[Long]("tokens_available") == 100L)
    assert(f("a", "target_tokens") == 500.0 && f("a", "epochs") == 4.0)
    assert(f("a", "achieved_tokens") == 400.0 && f("a", "deficit") == 100.0)
    assert(f("b", "epochs") == 4.0 && f("b", "deficit") == 100.0)
    assert(f("c", "epochs") == 4.0 && f("c", "achieved_tokens") == 40.0)
    // group absent from the weight map: explicit zero plan, no deficit
    assert(f("d", "weight") == 0.0 && f("d", "epochs") == 0.0 &&
      f("d", "deficit") == 0.0)
    // uncapped case: epochs = target/available exactly
    val loose = Sampling.mixtureSolve(rows, "src", col("toks"),
        Map("a" -> 0.2), budgetTokens = 1000L, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(loose("a").getAs[Double]("epochs") == 2.0 &&
      loose("a").getAs[Double]("deficit") == 0.0)
  }

  test("percentileGate: rank threshold per group, ties kept, map-side gate") {
    // group g1: scores 0.9, 0.7, 0.7, 0.5, 0.1 — keep 0.4 → ceil(0.4·5)=2
    // → threshold 0.7, ties AT threshold kept → 3 survive
    // group g2: 0.8, 0.2 — ceil(0.4·2)=1 → threshold 0.8 → 1 survives
    val rows = Seq(
      (1L, "g1", 0.9), (2L, "g1", 0.7), (3L, "g1", 0.7), (4L, "g1", 0.5),
      (5L, "g1", 0.1), (6L, "g2", 0.8), (7L, "g2", 0.2)
    ).toDF("id", "grp", "s")
    val out = TextStats.percentileGate(rows, "grp", col("s"), 0.4)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("threshold"), r.getAs[Boolean]("kept"))).toMap
    assert(out.size == 7)
    assert(Seq(1L, 2L, 3L).forall(out(_)._2), s"g1 top + ties kept: $out")
    assert(!out(4L)._2 && !out(5L)._2)
    assert(out(6L)._2 && !out(7L)._2)
    assert(out(1L)._1 == 0.7 && out(6L)._1 == 0.8)
    // keepFraction = 1 keeps everything
    val all = TextStats.percentileGate(rows, "grp", col("s"), 1.0).collect()
    assert(all.forall(_.getAs[Boolean]("kept")))
    // the gate never windows the data: the only Window is over the
    // (group, score) histogram aggregate
    val plan = TextStats.percentileGate(rows, "grp", col("s"), 0.4)
      .queryExecution.optimizedPlan.toString
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 &&
      plan.substring(winIdx).contains("Aggregate"),
      s"window must sit above the histogram aggregate:\n$plan")
  }

  test("tokenBudgetSelect: greedy budget prefix, boundary fill by " +
    "(hash, id), atomic docs, repartition-invariant") {
    val rows = Seq(
      (1L, 0.9, 10L), (2L, 0.9, 10L), (3L, 0.7, 25L), (4L, 0.7, 25L),
      (5L, 0.7, 25L), (6L, 0.5, 40L), (7L, 0.3, 100L)
    ).toDF("id", "s", "t")
    def sel(budget: Long): Set[Long] = Sampling.tokenBudgetSelect(
        rows, "id", col("s"), col("t"), budget)
      .select("id").collect().map(_.getLong(0)).toSet
    // brute-force reference: global greedy prefix in (score DESC, hash,
    // id) order — the op's histogram/boundary decomposition must agree
    // with the direct definition at every budget
    val order = rows.select(col("id"), col("s"), col("t"),
        Sampling.hash24(col("id"), "budget").as("h")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy { case (id, s, _, h) => (-s, h, id) }
    def ref(budget: Long): Set[Long] = {
      var cum = 0L
      order.takeWhile { case (_, _, t, _) => cum += t; cum <= budget }
        .map(_._1).toSet
    }
    val total = order.map(_._3).sum
    for (b <- Seq(0L, 5L, 10L, 20L, 45L, 70L, 94L, 95L, 120L, 134L, 135L,
        200L, total, total + 1L))
      assert(sel(b) == ref(b), s"budget $b: ${sel(b)} != ${ref(b)}")
    assert(sel(total) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(sel(0L) == Set.empty[Long])
    // whole-bin keeps are exact: budget 20 takes both score-0.9 docs and
    // nothing from the 0.7 bin
    assert(sel(20L) == Set(1L, 2L))
    // repartition never changes membership (pure function of content)
    val repart = Sampling.tokenBudgetSelect(
        rows.repartition(7), "id", col("s"), col("t"), 70L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(repart == ref(70L), s"repartition drift: $repart")
    // null score / null tokens carry no mass
    val withNulls = rows.union(Seq((8L, 0.95, 1L), (9L, 0.99, 1L))
        .toDF("id", "s", "t")
        .select(col("id"),
          when(col("id") === 8L, lit(null)).otherwise(col("s")).as("s"),
          when(col("id") === 9L, lit(null)).otherwise(col("t")).as("t")))
    val nn = Sampling.tokenBudgetSelect(withNulls, "id", col("s"), col("t"),
        20L).select("id").collect().map(_.getLong(0)).toSet
    assert(nn == Set(1L, 2L), s"null-mass rows must be excluded: $nn")
    // the corpus is never globally windowed: the only windows are the
    // histogram cumsum (above the Aggregate) and the boundary-bin fill,
    // which is PARTITIONED by the score column (one bin, never a global
    // sort)
    val plan = Sampling.tokenBudgetSelect(rows, "id", col("s"), col("t"),
      70L).queryExecution.optimizedPlan.toString
    val specs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.exists(_.startsWith("score")),
      s"boundary fill must partition by score:\n$plan")
  }

  test("tokenBudgetSelect over 3 verbatim copies of sf0.001: the boundary " +
    "bin is copy-invariant, whole-bin keeps triple, the fill stays tight") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val slim1 = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), TextStats.qualityScore(col("text")).as("s"),
        TextStats.wordCount(col("text")).as("t"))
      .localCheckpoint()
    val slim3 = Scale.copies(slim1, "doc_id", 3).localCheckpoint()
    def budget(df: DataFrame): Long = df.agg(sum("t")).head().getLong(0) * 37L / 100L
    // the boundary rule from its definition (histogram, strictly-better
    // prefix), not from the operator under test
    def boundary(df: DataFrame, b: Long): Double =
      df.groupBy("s").agg(sum("t").as("bt"))
        .withColumn("pfx", sum(col("bt")).over(Window.orderBy(col("s").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("bt"))
        .where(col("pfx") <= b && col("pfx") + col("bt") > b)
        .select("s").head().getDouble(0)
    val (b1, b3) = (budget(slim1), budget(slim3))
    // every bin's mass triples and the budget is within 3 of triple, so
    // 3·pfx <= b3 < 3·(pfx + bt) holds exactly when pfx <= b1 < pfx + bt
    assert(b3 - 3 * b1 < 3L, s"budget $b1 -> $b3")
    val bs = boundary(slim1, b1)
    assert(boundary(slim3, b3) == bs)
    val sel3 = Sampling.tokenBudgetSelect(slim3, "doc_id", col("s"), col("t"), b3)
      .persist()
    assert(sel3.where(col("score") > bs).count() == 3 * slim1.where(col("s") > bs).count())
    val total = sel3.agg(sum("tokens")).head().getLong(0)
    val maxInBin = slim3.where(col("s") === bs).agg(max("t")).head().getLong(0)
    assert(total <= b3 && b3 - total < maxInBin, s"$total of $b3, bin max $maxInBin")
    sel3.unpersist()
  }

  test("doremiWeights with the full sample is duplication-invariant: 3 " +
    "verbatim copies of sf0.001 give the 1x trajectory row for row") {
    // each round's lambda is a per-domain mean, and 3·sum / 3·n rounds
    // to the same double as sum / n
    val d1 = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("lang"),
        (lit(1.0) - TextStats.qualityScore(col("text"))).as("_x"))
      .localCheckpoint()
    def trajectory(df: org.apache.spark.sql.DataFrame) = Sampling.doremiWeights(df,
        "lang", "doc_id", col("_x"), rounds = 4, sampleFrac = 1.0)
      .orderBy("round", "domain").collect().map(_.toSeq).toSeq
    val t1 = trajectory(d1)
    assert(t1.nonEmpty)
    assert(trajectory(Scale.copies(d1, "doc_id", 3)) == t1)
  }

  test("exactSubstringDedup over 3 verbatim copies of sf0.001: every copy " +
    "of a doc with >= gramLen tokens is hollowed out, and the base docs' " +
    "verdicts equal a 1x run") {
    val d1 = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val out3 = Dedup.exactSubstringDedup(Scale.copies(d1, "doc_id", 3), "doc_id", "text",
      gramLen = 10).persist()
    // the first occurrence of every gram lies in the base copy (min id)
    assert(out3.where(col("id") >= Scale.Salt && col("n_tokens") >= 10 &&
      col("n_removed") =!= col("n_tokens")).isEmpty)
    val base3 = out3.where(col("id") < Scale.Salt).select("id", "n_removed", "text_clean")
    val base1 = Dedup.exactSubstringDedup(d1, "doc_id", "text", gramLen = 10)
      .select("id", "n_removed", "text_clean")
    val broke = Scale.holds(Scale.Same, 3, base1, base3)
    assert(broke.isEmpty, broke)
    out3.unpersist()
  }

  test("dsirWeights: target-like raw docs outscore off-domain ones") {
    val target = Seq((100L, "data selection importance resampling"),
      (101L, "importance resampling for data selection"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "data selection importance resampling works"), // target-like
      (2L, "unrelated prose about glider deployments"),   // off-domain
      (3L, "")).toDF("doc_id", "text")                    // featureless
    val out = Sampling.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // n_features = words + bigrams = 2·len − 1
    assert(out(1L)._1 == 9L && out(2L)._1 == 9L)
    assert(out(3L) == ((0L, None)), s"featureless doc: ${out(3L)}")
    assert(out(1L)._2.get > out(2L)._2.get,
      s"target-like doc must outscore off-domain: $out")
    // selection: top-1 keeps exactly the target-like doc; weight ties at
    // the threshold all survive
    val scored = Sampling.dsirWeights(raw, target, "doc_id", "text")
    val top = Sampling.dsirSelectTop(scored, "doc_id", "logw", 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L), s"top-1 selection: $top")
    val tied = Seq((10L, 5L, 2.5), (11L, 5L, 2.5), (12L, 5L, 1.0))
      .toDF("doc_id", "n_features", "logw")
    val keptTied = Sampling.dsirSelectTop(tied, "doc_id", "logw", 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptTied == Seq(10L, 11L), s"threshold ties survive: $keptTied")
  }

  test("rrfFuse: outer union, null ranks, fixed-order 1/(k+r) sum") {
    import graft.operators.Ranking
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val out = Ranking.rrfFuse(Seq("a" -> a, "b" -> b), "id", "rank")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getDouble(3))).toMap
    // doc 20 is in both lists: 1/62 + 1/61
    assert(out(20L) == ((Some(2L), Some(1L),
      BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // single-list docs keep a null rank on the missing side
    assert(out(10L)._2.isEmpty && out(40L)._1.isEmpty)
    assert(out(10L)._3 == BigDecimal(1.0 / 61).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // ordering: fused score desc, id tie-break
    val ids = Ranking.rrfFuse(Seq("a" -> a, "b" -> b), "id", "rank")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.head == 20L, s"both-list doc must lead: $ids")
    // three lists fold left to right without name collisions
    val c = Seq((10L, 1L)).toDF("id", "rank")
    val three = Ranking.rrfFuse(Seq("a" -> a, "b" -> b, "c" -> c), "id", "rank")
    assert(three.columns.toSeq ==
      Seq("id", "rank_a", "rank_b", "rank_c", "rrf"))
    assert(three.where(col("id") === 10L).head().getDouble(4) ==
      BigDecimal(1.0 / 61 + 1.0 / 61).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("Classifier: separable vocabularies train to high accuracy, " +
    "imbalanced base rate lands in the bias weight") {
    import graft.operators.Classifier
    // disjoint vocabularies: positives speak {apple banana cherry},
    // negatives {delta echo foxtrot}; 3:1 imbalance exercises the bias
    val pos = (0L until 30L).map(i => (i, s"apple banana cherry apple", 1L))
    val neg = (100L until 110L).map(i => (i, s"delta echo foxtrot delta", 0L))
    val df = (pos ++ neg).toDF("doc_id", "text", "y")
    val w = Classifier.train(df, "doc_id", "text", "y",
      dim = 64, iters = 30, lr = 4.0)
    assert(w.length == 65, "dim weights + bias")
    val scored = Classifier.score(df, "doc_id", "text", w, dim = 64)
      .join(df.select(col("doc_id").as("id"), col("y")), Seq("id"))
      .collect().map(r => (r.getAs[Long]("y"), r.getAs[Double]("p")))
    val acc = scored.count { case (y, p) => (p >= 0.5) == (y == 1L) }
      .toDouble / scored.length
    assert(acc >= 0.95, s"separable corpus must train: acc=$acc w=${w.toSeq}")
    // positives score strictly above negatives
    val pMin = scored.filter(_._1 == 1L).map(_._2).min
    val nMax = scored.filter(_._1 == 0L).map(_._2).max
    assert(pMin > nMax, s"separation: posMin=$pMin negMax=$nMax")
  }

  test("Classifier: hash-sampled training (sampleFraction) is " +
    "deterministic, still >=95% on the disjoint-vocab corpus, and " +
    "fraction=1.0 is bit-identical to the unsampled path") {
    import graft.operators.Classifier
    // larger corpus so a 50% subsample keeps both classes populated
    val pos = (0L until 120L).map(i => (i, "apple banana cherry apple", 1L))
    val neg = (1000L until 1040L).map(i => (i, "delta echo foxtrot delta", 0L))
    val df = (pos ++ neg).toDF("doc_id", "text", "y")
    val wFull = Classifier.train(df, "doc_id", "text", "y",
      dim = 64, iters = 30, lr = 4.0)
    val wOne = Classifier.train(df, "doc_id", "text", "y",
      dim = 64, iters = 30, lr = 4.0, sampleFraction = 1.0)
    assert(wFull.toSeq == wOne.toSeq,
      "sampleFraction=1.0 must be bit-identical to the default path")
    val wHalf = Classifier.train(df, "doc_id", "text", "y",
      dim = 64, iters = 30, lr = 4.0, sampleFraction = 0.5)
    val wHalf2 = Classifier.train(df, "doc_id", "text", "y",
      dim = 64, iters = 30, lr = 4.0, sampleFraction = 0.5)
    assert(wHalf.toSeq == wHalf2.toSeq,
      "hash sampling is a pure function of the ids — reruns must agree")
    assert(wHalf.toSeq != wFull.toSeq,
      "a strict subsample should move at least one micro-weight")
    // the sampled model still separates the FULL corpus
    val scored = Classifier.score(df, "doc_id", "text", wHalf, dim = 64)
      .join(df.select(col("doc_id").as("id"), col("y")), Seq("id"))
      .collect().map(r => (r.getAs[Long]("y"), r.getAs[Double]("p")))
    val acc = scored.count { case (y, p) => (p >= 0.5) == (y == 1L) }
      .toDouble / scored.length
    assert(acc >= 0.95, s"sampled training must still separate: acc=$acc")
  }

  test("Classifier.train: every epoch reads the one checkpointed feature " +
    "frame, so no job's lineage grows with the epoch count") {
    import graft.operators.Classifier
    val labeled = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"), (col("doc_id") % 2).as("y"))
    def stages(iters: Int) = maxStagesPerJob(
      Classifier.train(labeled, "doc_id", "text", "y", dim = 64, iters = iters))
    val (s5, s15) = (stages(5), stages(15))
    assert(s15 <= s5 + 1, s"5 epochs: $s5 stages, 15 epochs: $s15")
  }

  test("Classifier.score serves a STREAM with frozen weights == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Classifier
    implicit val sqlCtx = spark.sqlContext
    val train = (Seq.tabulate(20)(i => (i.toLong, "apple banana good", 1L)) ++
      Seq.tabulate(20)(i => ((100 + i).toLong, "delta echo bad", 0L)))
      .toDF("doc_id", "text", "y")
    val w = Classifier.train(train, "doc_id", "text", "y",
      dim = 64, iters = 20, lr = 4.0)
    val live = Seq((500L, "apple banana fresh"), (501L, "echo delta noise"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("z"), r.getAs[Double]("p"))).toMap
    // the row-wise fold is integer-identical to the grouped aggregate
    val grouped = rows(Classifier.score(live.toDF("doc_id", "text"),
      "doc_id", "text", w, dim = 64))
    val rowwise = rows(Classifier.scoreRowwise(live.toDF("doc_id", "text"),
      "doc_id", "text", w, dim = 64))
    assert(rowwise == grouped, s"$rowwise vs $grouped")
    // and being aggregate-free, it serves a stream unchanged
    val mem = MemoryStream[(Long, String)]
    val q = Classifier.scoreRowwise(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", w, dim = 64)
      .writeStream.outputMode("append")
      .format("memory").queryName("clf_out").start()
    try {
      mem.addData(live: _*)
      q.processAllAvailable()
      val streamed = rows(spark.table("clf_out"))
      assert(streamed == grouped, s"$streamed vs $grouped")
      assert(streamed(500L)._2 > 0.5 && streamed(501L)._2 < 0.5,
        s"frozen model must separate in-stream: $streamed")
    } finally q.stop()
  }

  test("bigramLmScore vs frozen model: self-scoring == bigramLm exactly; " +
    "novel bigrams count as unk with faithful add-k mass") {
    val docsDf = Seq(
      (0L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (1L, "the cat sat on the rug zebra jumps")  // odd: scored, not trained
    ).toDF("doc_id", "text")
    val train = docsDf.where($"doc_id" % 2 === 0)
    val model = TextStats.bigramLmTrain(train, "doc_id", "text")
    // self-scoring reproduces bigramLm bit for bit (coalesce-0 never fires)
    val self = TextStats.bigramLmScore(train, "doc_id", "text", model)
      .select("doc_id", "n_bigrams", "avg_nll").orderBy("doc_id").collect()
    val ref = TextStats.bigramLm(train, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(self.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      ref.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    assert(TextStats.bigramLmScore(train, "doc_id", "text", model)
      .agg(sum($"n_unk")).collect()(0).getLong(0) == 0L)
    // the held-out doc has novel bigrams ("rug zebra", "zebra jumps") —
    // they score, not drop, and are counted as unk
    val held = TextStats.bigramLmScore(docsDf, "doc_id", "text", model)
      .where($"doc_id" === 1L).collect()(0)
    assert(held.getAs[Long]("n_bigrams") == 7L)
    assert(held.getAs[Long]("n_unk") >= 2L, s"$held")
    assert(held.getAs[Double]("avg_nll") > 0)
  }

  test("meanOnGrid6 rounds exact .5 ties half-up on the 6-decimal grid " +
    "(the double quotient's round splits Spark from DuckDB there)") {
    // 34.382895 / 10 = 3.4382895 exactly; the double quotient is
    // 3.4382894999999998, which Spark's round takes down and DuckDB's up
    val out = Seq(("34.382895", Option(10L)), ("101.933235", Option(30L)),
        ("1.000000", Option(3L)), ("7.000000", Option.empty[Long]))
      .toDF("s", "n")
      .select(TextStats.meanOnGrid6(col("s").cast("decimal(38,6)"), col("n")))
      .collect().map(r => Option(r.get(0))).toSeq
    assert(out == Seq(Some(3.43829), Some(3.397775), Some(0.333333), None),
      s"$out")
  }

  test("bigramLm model is a servable artifact: parquet round trip " +
    "scores identically") {
    val docsDf = Seq(
      (0L, "the cat sat on the mat"), (1L, "the dog sat on the rug")
    ).toDF("doc_id", "text")
    val model = TextStats.bigramLmTrain(docsDf, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lm_model").toString
    model.bigrams.write.parquet(s"$dir/bigrams")
    model.starts.write.parquet(s"$dir/starts")
    model.vocab.write.parquet(s"$dir/vocab")
    val loaded = TextStats.BigramLmModel(
      spark.read.parquet(s"$dir/bigrams"),
      spark.read.parquet(s"$dir/starts"),
      spark.read.parquet(s"$dir/vocab"))
    def rows(m: TextStats.BigramLmModel) =
      TextStats.bigramLmScore(docsDf, "doc_id", "text", m)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    assert(rows(loaded) == rows(model))
  }

  test("robustZScoreAgainst: frozen baselines serve a STREAM == batch; " +
    "unprofiled keys pass through null") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Anomaly
    implicit val sqlCtx = spark.sqlContext
    val hist = Seq.tabulate(21)(i => (i.toLong, "a", 10.0 + (i % 7) * 0.5))
      .toDF("event_id", "key", "value")
    val base = Anomaly.robustBaselines(hist, "key", "value")
    val live = Seq((100L, "a", 10.5), (101L, "a", 500.0), (102L, "nw", 1.0))
    val mem = MemoryStream[(Long, String, Double)]
    val q = Anomaly.robustZScoreAgainst(
        mem.toDF().toDF("event_id", "key", "value"),
        "event_id", "key", "value", base)
      .writeStream.outputMode("append")
      .format("memory").queryName("rz_out").start()
    try {
      mem.addData(live: _*)
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("event_id") ->
          (Option(r.getAs[java.lang.Double]("z")),
            Option(r.getAs[java.lang.Long]("is_outlier")))).toMap
      val streamed = rows(spark.table("rz_out"))
      val batch = rows(Anomaly.robustZScoreAgainst(
        live.toDF("event_id", "key", "value"), "event_id", "key", "value",
        base))
      assert(streamed == batch, s"$streamed vs $batch")
      assert(streamed(101L)._2.contains(1L), "spike must flag in-stream")
      assert(streamed(100L)._2.contains(0L))
      assert(streamed(102L) == ((None, None)), "unprofiled key → nulls")
    } finally q.stop()
  }

  test("robustZScore: spike flags against the median baseline, " +
    "zero-MAD key yields nulls, never Inf") {
    import graft.operators.Anomaly
    // key a: tight cluster around 10 with one 100x spike — the spike
    // cannot drag the median/MAD the way it drags mean/std
    val a = Seq.tabulate(20)(i => (i.toLong, "a", 10.0 + (i % 5) * 0.5)) :+
      ((99L, "a", 1000.0))
    val b = Seq.tabulate(5)(i => ((200 + i).toLong, "b", 7.0)) // constant
    val out = Anomaly.robustZScore((a ++ b).toDF("event_id", "key", "value"),
        "event_id", "key", "value")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[java.lang.Double]("z")),
          Option(r.getAs[java.lang.Long]("is_outlier")))).toMap
    assert(out(99L)._2.contains(1L), s"spike must flag: ${out(99L)}")
    assert(a.init.forall(t => out(t._1)._2.contains(0L)),
      "cluster rows must not flag")
    assert(out(200L) == ((None, None)), "constant key → null z, null flag")
  }

  test("capPerGroupByScore: best n by (score desc, id), ties at the cut " +
    "resolve by id, short groups survive whole") {
    val rows = Seq(
      (1L, "g", 0.9), (2L, "g", 0.5), (3L, "g", 0.5), (4L, "g", 0.1),
      (9L, "h", 0.2)
    ).toDF("id", "grp", "s")
    val out = Sampling.capPerGroupByScore(rows, "grp", "id", col("s"), n = 2)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("id"),
        r.getAs[Double]("score"))).toSet
    // g keeps 0.9 and the LOWER-id 0.5 (ties at the cut resolve by id)
    assert(out == Set(("g", 1L, 0.9), ("g", 2L, 0.5), ("h", 9L, 0.2)), s"$out")
  }

  test("weightedSample: exactly the k smallest exponential keys per " +
    "group, non-positive weights excluded, heavy weight dominates") {
    def h24(id: Long, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id|$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 6), 16)
    }
    def key(id: Long, w: Double): Double =
      -math.log((h24(id, "samp") + 1L).toDouble / 16777216.0) / w
    val rows = Seq(
      (1L, "g", 3.0), (2L, "g", 1.0), (3L, "g", 5.0), (4L, "g", 2.0),
      (5L, "g", 0.0), (6L, "h", 1.0) // weight 0 has no sampling mass
    ).toDF("id", "grp", "w")
    val out = Sampling.weightedSample(rows, "grp", "id", col("w"),
        k = 2, salt = "samp")
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("id"))).toSet
    val expectG = Seq(1L -> 3.0, 2L -> 1.0, 3L -> 5.0, 4L -> 2.0)
      .sortBy { case (id, w) => (key(id, w), id) }.take(2)
      .map { case (id, _) => ("g", id) }.toSet
    assert(out == expectG + (("h", 6L)), s"$out vs $expectG")
    // probability ∝ weight: one huge-weight row beats k=1 of the rest
    val heavy = (Seq((10L, "g", 1e9)) ++ (1L to 9L).map((_, "g", 1.0)))
      .toDF("id", "grp", "w")
    val win = Sampling.weightedSample(heavy, "grp", "id", col("w"), k = 1)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(win == Seq(10L), s"$win")
  }

  test("keyness: hand-computed G2 with sign from rate comparison; " +
    "equal rates give 0") {
    // target en: "aa aa bb" (na=3); rest fr: "bb cc cc" (nb=3), N=6
    // aa: a=2,b=0 -> G2 = 2*(2*ln(2/1)) = 4 ln 2, target-overrepresented
    // bb: a=1,b=1 -> expected 1/1, G2 = 0 (equal rates, sign +)
    // cc: a=0,b=2 -> 4 ln 2 with NEGATIVE sign (rest-overrepresented)
    val docs = Seq((1L, "en", "aa aa bb"), (2L, "fr", "bb cc cc"))
      .toDF("doc_id", "lang", "text")
    val out = TextStats.keyness(docs, "lang", "text", target = "en",
        minCount = 1L, k = 10)
      .collect().map(r => (r.getAs[String]("word"),
        r.getAs[Long]("cnt_target"), r.getAs[Long]("cnt_rest"),
        r.getAs[Double]("g2")))
    val g4ln2 = BigDecimal(4.0 * math.log(2.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      ("aa", 2L, 0L, g4ln2),
      ("bb", 1L, 1L, 0.0),
      ("cc", 0L, 2L, -g4ln2)), s"${out.toSeq}")
  }

  test("collocations: PMI over adjacent pairs, hand-computed, " +
    "minCount gates support, ties at the cut break on the bigram") {
    import graft.operators.TextStats
    // bigrams: d1 {new-york, york-is, is-big}, d2 {new-york, york-city},
    // d3 {the-city, city-is, is-big} -> N = 8
    // c_ab(new,york)=2, c_a(new)=2, c_b(york)=2 -> pmi = ln(2*8/4) = ln 4
    // c_ab(is,big)=2,  c_a(is)=2,  c_b(big)=2  -> ln 4 too; tie breaks
    // "is big" < "new york" lexicographically
    val docs = Seq(
      (1L, "new york is big"), (2L, "new york city"),
      (3L, "the city is big")).toDF("doc_id", "text")
    val out = TextStats.collocations(docs, "doc_id", "text",
        minCount = 2L, k = 10)
      .collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("c_ab"), r.getAs[Long]("c_a"), r.getAs[Long]("c_b"),
        r.getAs[Double]("pmi")))
    val ln4 = BigDecimal(math.log(4.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      ("is", "big", 2L, 2L, 2L, ln4),
      ("new", "york", 2L, 2L, 2L, ln4)), s"${out.toSeq}")
  }

  test("funnel: strict event-time order, out-of-order steps don't count") {
    // u1 completes view→click→purchase in order; u2 clicks BEFORE their
    // first view (doesn't count) and never re-clicks; u3 views only
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 09:30:00"), "view"),
      (3L, ts("2024-01-01 11:00:00"), "view"),
      (3L, ts("2024-01-01 10:00:00"), "purchase") // before any view/click
    ).toDF("user_id", "ts", "event_type")
    val out = graft.operators.Funnel.funnel(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("step").collect()
    assert(out.map(r => (r.getAs[Long]("step"), r.getAs[String]("event_type"),
      r.getAs[Long]("users"))).toSeq ==
      Seq((0L, "view", 3L), (1L, "click", 1L), (2L, "purchase", 1L)))
    assert(out(0).getAs[Double]("conv_prev") == 1.0)
    assert(out(1).getAs[Double]("conv_prev") == 0.333333)
    assert(out(2).getAs[Double]("conv_first") == 0.333333)
  }

  test("funnel: unreached steps still row out with users = 0") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 11:00:00"), "view")
    ).toDF("user_id", "ts", "event_type")
    val out = graft.operators.Funnel.funnel(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("step").collect()
    assert(out.map(r => (r.getAs[Long]("step"), r.getAs[Long]("users")))
      .toSeq == Seq((0L, 2L), (1L, 0L), (2L, 0L)))
    assert(out(1).getAs[Double]("conv_first") == 0.0)
    assert(out(1).getAs[Double]("conv_prev") == 0.0) // 0 of 2 viewers
    // conversion FROM a dead step is undefined (null), never a /0 crash
    assert(out(2).get(out(2).fieldIndex("conv_prev")) == null)
    assert(out(2).getAs[Double]("conv_first") == 0.0)
  }

  test("transitionStats: lower-median/p90 over the second-gridded gap " +
    "histogram, exact-us mean, dead transitions drop out") {
    // view->click gaps: u1 300 s, u2 60 s, u3 120 s, u4 600 s
    //   sorted [60, 120, 300, 600]: n=4, lower median pos (4+1) div 2 = 2
    //   -> 120; p90 pos (36+9) div 10 = 4 -> 600; mean 270.0
    // click->purchase: only u1, 90 s -> all stats 90
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:06:30"), "purchase"),
      (2L, ts("2024-01-01 11:00:00"), "view"),
      (2L, ts("2024-01-01 11:01:00"), "click"),
      (3L, ts("2024-01-01 12:00:00"), "view"),
      (3L, ts("2024-01-01 12:02:00"), "click"),
      (4L, ts("2024-01-01 13:00:00"), "view"),
      (4L, ts("2024-01-01 13:10:00"), "click"),
      (5L, ts("2024-01-01 14:00:00"), "view") // never converts
    ).toDF("user_id", "ts", "event_type")
    val out = graft.operators.Funnel.transitionStats(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("step").collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("event_type"),
        r.getAs[Long]("users"), r.getAs[Long]("median_gap_s"),
        r.getAs[Long]("p90_gap_s"), r.getAs[Double]("mean_gap_s")))
    // step 0 has no predecessor -> no row; both real transitions pinned
    assert(out.toSeq == Seq(
      (1L, "click", 4L, 120L, 600L, 270.0),
      (2L, "purchase", 1L, 90L, 90L, 90.0)), s"${out.toSeq}")
  }

  test("cohortRetention: first-day cohorts, offset-0 retention is 1.0, " +
    "later-day actives fill their cell") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-02 09:00:00")),                 // u1 returns day 1
      (3L, ts("2024-01-02 12:00:00")),                 // u3 cohorts on day 2
      (1L, ts("2024-01-03 09:00:00")), (3L, ts("2024-01-03 10:00:00"))
    ).toDF("user_id", "ts")
    val out = graft.operators.Funnel.cohortRetention(ev, "user_id", "ts")
      .orderBy("cohort", "day_offset").collect()
      .map(r => (r.getAs[java.sql.Date]("cohort").toString,
        r.getAs[Long]("day_offset")) ->
        (r.getAs[Long]("cohort_size"), r.getAs[Long]("active_users"),
          r.getAs[Double]("retention"))).toMap
    assert(out(("2024-01-01", 0L)) == ((2L, 2L, 1.0)))
    assert(out(("2024-01-01", 1L)) == ((2L, 1L, 0.5)))  // only u1 returned
    assert(out(("2024-01-01", 2L)) == ((2L, 1L, 0.5)))
    assert(out(("2024-01-02", 0L)) == ((1L, 1L, 1.0)))  // u3's own cohort
    assert(out(("2024-01-02", 1L)) == ((1L, 1L, 1.0)))
  }

  test("cohortRetentionApprox: HLL cells track the exact form within " +
    "sketch error on real event data") {
    import graft.operators.Funnel
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val exact = Funnel.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => (r.getAs[java.sql.Date]("cohort").toString,
        r.getAs[Long]("day_offset")) -> r.getAs[Long]("active_users")).toMap
    val approx = Funnel.cohortRetentionApprox(ev, "user_id", "ts", p = 12)
      .collect().map(r => (r.getAs[java.sql.Date]("cohort").toString,
        r.getAs[Long]("day_offset")) -> r.getAs[Double]("active_users")).toMap
    assert(approx.keySet == exact.keySet, "cell sets must agree")
    // p=12 → ~1.6% σ; 10% is a >6-sigma gate even at small cells
    approx.foreach { case (k, est) =>
      val tru = exact(k).toDouble
      assert(math.abs(est - tru) / math.max(tru, 1.0) < 0.10,
        s"cell $k: est $est vs exact $tru")
    }
  }

  test("sourceDivergence: blend-identical group scores 0, skewed group " +
    "positive, words absent from a group contribute nothing") {
    val docsDf = Seq(
      ("a", "x x y y"), ("b", "x x y y"),  // a and b identical to blend? no:
      ("c", "z z z z")                      // c skews the blend with z
    ).toDF("src", "text")
    val kl = graft.operators.TextStats.sourceDivergence(docsDf, "src", "text")
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Double]("kl")).toMap
    // a and b have the same distribution; c is maximally distinct
    assert(kl("a") == kl("b"))
    assert(kl("c") > kl("a") && kl("c") > 0, s"$kl")
    // one group == whole corpus → KL exactly 0
    val solo = graft.operators.TextStats.sourceDivergence(
      Seq(("only", "p q p q")).toDF("src", "text"), "src", "text").collect()
    assert(solo(0).getAs[Double]("kl") == 0.0)
  }

  test("rankBuckets: thirds per group, ties stay in the better bucket, " +
    "null scores bucket null") {
    // g1 ascending scores 1..9 → cuts at ceil(9/3)=3 (thr 3) and
    // ceil(18/3)=6 (thr 6): buckets {1,2,3}, {4,5,6}, {7,8,9}
    val g1 = (1 to 9).map(i => (i.toLong, "g1", Some(i.toDouble)))
    val rows = (g1 :+ ((10L, "g1", Option.empty[Double])))
      .toDF("id", "grp", "s")
    val out = TextStats.rankBuckets(rows, "grp", col("s"),
        Seq(1.0 / 3, 2.0 / 3), ascending = true)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Long]("bucket")).map(_.toLong)).toMap
    assert((1L to 3L).forall(out(_).contains(0L)), s"head: $out")
    assert((4L to 6L).forall(out(_).contains(1L)), s"middle: $out")
    assert((7L to 9L).forall(out(_).contains(2L)), s"tail: $out")
    assert(out(10L).isEmpty, "null score must bucket null")
    // descending (quality-style): highest score is bucket 0; a tie AT
    // the cut lands in the better bucket
    val tied = Seq((1L, "g", 0.9), (2L, "g", 0.5), (3L, "g", 0.5),
      (4L, "g", 0.1)).toDF("id", "grp", "s")
    val desc = TextStats.rankBuckets(tied, "grp", col("s"), Seq(0.5))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("bucket"))
      .toMap
    // ceil(0.5·4)=2 → thr = 0.5; ties at 0.5 stay in bucket 0
    assert(desc == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L), s"$desc")
  }

  test("temperatureWeights: sqrt smoothing boosts the tail, alpha=1 is " +
    "proportional") {
    val rows = Seq.fill(90)(("en", 100L)) ++ Seq.fill(10)(("ne", 100L))
    val df = rows.toDF("lang", "tok")
    val w = Sampling.temperatureWeights(df, "lang", col("tok"), alpha = 0.5)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Double]("share"), r.getAs[Double]("weight"),
          r.getAs[Double]("boost"))).toMap
    assert(w("en")._1 == 0.9 && w("ne")._1 == 0.1)
    // sqrt smoothing: weights ∝ (√.9, √.1)/(√.9+√.1) → ne up, en down
    assert(w("ne")._3 > 1.0 && w("en")._3 < 1.0, s"$w")
    assert(math.abs(w("en")._2 + w("ne")._2 - 1.0) < 1e-5, s"$w")
    // alpha = 1 → weight == share (proportional sampling)
    val p = Sampling.temperatureWeights(df, "lang", col("tok"), alpha = 1.0)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Double]("share"), r.getAs[Double]("weight"))).toMap
    assert(p.forall { case (_, (s, wt)) => s == wt }, s"$p")
  }
}
