package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-shot 10× scale smoke for the dedup family — NOT part of the
  * graded bench. The skew guards and shared exchanges in q_d2/q_d3/q_d5
  * are plan-asserted in the specs but the specs top out at sf0.1
  * (5 k documents / 2 k vectors); this drives the same guarded
  * production paths at 50 k docs (2.6 M shingle rows) / 20 k vectors by
  * unioning sf0.1 ten times with salted ids (texts/vectors repeat
  * verbatim, so every row gains 9 exact copies — a worst-case
  * bucket-inflation stress for the guards, and a known-answer key for
  * the dedup-regime near-dup stage: 2 000 vector groups × C(10,2)
  * verbatim cosine-1.0 pairs = exactly 90 000).
  *
  * Run: `sbt "runMain graft.Bench smoke <mode>"` over
  * `$SPARK_GRAFT_SF_DIR` (sf0.1 by default), where `10x` is the smoke
  * above and the other [[Modes]] are described where they run.
  * Timings are recorded in COVERAGE.md ("Scale smoke" section).
  */
object ScaleSmoke {
  val Modes = Seq("10x", "100x", "bpe32k", "unigram32k", "bpe", "epochs", "epochs1k")

  def run(spark: SparkSession, sfDir: String, mode: String): Unit = {
    val copies = 10
    import graft.operators.Dedup

    // ---- 100× graduation (round 9): the persisted-index and strict-
    // curation paths at the NEXT order of magnitude — 500 k docs /
    // 200 k vectors. A separate mode because the pairwise stages below
    // are quadratic in verbatim copies (C(100,2) pairs per base group);
    // these two paths are the ones whose scale story rests on pruning
    // and copy-collapse, so they graduate alone:
    //   sbt "runMain graft.Bench smoke 100x"
    if (mode == "100x") {
      val c100 = 100
      def timesN(df: DataFrame, idCol: String): DataFrame =
        (0 until c100).map(i => df.withColumn(idCol,
          col(idCol) + lit(i.toLong * 1000000000L))).reduce(_ union _)
      def timed100(name: String)(body: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = body
        println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1fs  rows=$n")
      }
      // strict chain at 100×: stage-1 fingerprint dedup must collapse
      // every 100-copy group to its base doc, so the whole chain stays
      // copy-invariant — 100× output == 1× output ROW FOR ROW while the
      // fingerprint aggregate and Gopher gate chew 500 k docs
      timed100("curateStrict 100x == 1x") {
        val full = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text", "lang", "n_chars")
        val gp = graft.operators.TextStats.GopherParams(minStopwordHits = 1)
        def strict(d: DataFrame) = graft.api.Pipeline.curateStrict(
          d, "doc_id", "text", "lang", "n_chars", gramLen = 10, gopher = gp)
        val s100 = strict(timesN(full, "doc_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val s1 = strict(full)
        val drift = s100.exceptAll(s1).count() + s1.exceptAll(s100).count()
        require(drift == 0L,
          s"strict chain must be copy-invariant at 100x: $drift rows")
        val n = s100.count()
        s100.unpersist()
        n
      }
      // persisted index at 100×: build over 200 k vectors (√n-rule
      // lists), then PROVE file-level pruning holds at this list count —
      // the probed fraction shrinks as √n grows (8/448 lists vs 8/142
      // at 10×), which is exactly the property that carries to 1e9 rows
      timed100("q_s7 index build+search 100x") {
        import graft.operators.{IvfPqIndex, Similarity}
        val emb100 = timesN(spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select("vec_id", "embedding"), "vec_id")
        val dir = java.nio.file.Files
          .createTempDirectory("smoke_ivfpq100").toString
        val nCent = Similarity.suggestedCentroids(c100 * 2000L)
        IvfPqIndex.build(emb100, "vec_id", "embedding", dir,
          nCentroids = nCent, m = 16, dim = 64, codebookSize = 16)
        val res = IvfPqIndex.search(spark, dir,
          emb100.where(col("vec_id") < 5), "vec_id", "embedding", k = 5,
          nProbe = 8, rerankDepth = 50, rerank = Some(emb100))
        val n = res.count()
        def scans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
          p.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              scans(a.executedPlan)
          }.flatten
        val fsScan = scans(res.queryExecution.executedPlan)
          .filter(_.relation.location.rootPaths
            .exists(_.toString.contains("/codes")))
          .head
        val read = fsScan.relation.location
          .listFiles(fsScan.partitionFilters, Nil).map(_.files.size).sum
        val total = fsScan.relation.location.listFiles(Nil, Nil)
          .map(_.files.size).sum
        println(s"  codes files read=$read of $total " +
          s"(nCent=$nCent, nProbe=8, 5 queries)")
        require(read > 0 && read * 4 < total,
          s"pruning must TIGHTEN at 100x (expect <1/4): read $read of $total")
        n
      }
      // ---- round 12: the dedup CHAIN graduates to 100× (the round-9
      // graduation covered only curateStrict and the persisted ANN
      // index). 500 k docs / 26 M shingle rows through the same guarded
      // paths the 10× table pins, with closed-form known answers from
      // the verbatim-copy construction: copies add no NEW shingles, have
      // IDENTICAL minhashes (so every copy pair is a certain LSH
      // candidate at est_jaccard = 1.0), and collapse into their base's
      // connected component.
      val docs100 = timesN(spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text"), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows1 = Dedup.shingleHashRows(spark.read
          .parquet(s"$sfDir/documents.parquet").select("doc_id", "text"),
          "doc_id", "text", n = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows100 = Dedup.shingleHashRows(docs100, "doc_id", "text", n = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      timed100("shingleHashRows 100x") {
        val n1 = rows1.count()
        val n100 = rows100.count()
        require(n100 == 100L * n1,
          s"each copy must contribute its base's distinct shingle rows: " +
            s"$n100 != 100 * $n1")
        val v1 = rows1.select("h").distinct().count()
        val v100 = rows100.select("h").distinct().count()
        require(v100 == v1,
          s"verbatim copies must add NO new shingles: vocab $v1 -> $v100")
        n100
      }
      // q_d3 at 100×: minhash k=64 over 26 M hash rows, then the banded
      // 16×4 self-join. Every one of the 5 000 bases' C(100,2) = 4 950
      // copy pairs MUST surface (identical signatures agree on all 16
      // bands) at est_jaccard exactly 1.0 — 24 750 000 pairs, counted
      // not sampled; one hash drift anywhere and the count moves.
      val pairs100 = Dedup.lshCandidatePairs(
          Dedup.minhashFromHashes(rows100, k = 64), bands = 16, rowsPerBand = 4)
        .where(col("est_jaccard") >= 0.2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      timed100("q_d3 minhash+lsh 100x") {
        val withinBase = pairs100
          .where(col("id_a") % 1000000000L === col("id_b") % 1000000000L &&
            col("est_jaccard") === 1.0d)
          .count()
        require(withinBase == 4950L * 5000L,
          s"every within-base copy pair must be a certain candidate: " +
            s"$withinBase != ${4950L * 5000L}")
        pairs100.count()
      }
      // rows100 fed ONLY the signature build above — release its ~26 M
      // cached rows before the closure stage competes for execution
      // memory (the 8 GiB-heap run OOM'd the closure's label aggregate
      // with rows100/pairs100/docs100 all resident; the smoke also runs
      // under SPARK_DRIVER_MEM=48g for the 100× stages)
      rows100.unpersist()
      // q_d6 at 100×: closure over the ~27 M-pair graph of dense
      // 100-cliques. The 100× component structure is the 1× structure
      // exactly: every 1× component absorbs its members' copies (copies
      // share ALL bands with their base), and every 1×-isolated doc's
      // 100 copies form one new component — so
      //   nComponents(100×) = nComponents(1×) + (5000 − nVertices(1×)).
      timed100("q_d6 closure 100x") {
        val pairs1 = Dedup.lshCandidatePairs(
            Dedup.minhashFromHashes(rows1, k = 64), bands = 16, rowsPerBand = 4)
          .where(col("est_jaccard") >= 0.2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val labels1 = Dedup.componentLabels(
          pairs1.select("id_a", "id_b"))
        val v1 = labels1.count()
        val c1 = labels1.select("label").distinct().count()
        val labels100 = Dedup.componentLabels(
            pairs100.select("id_a", "id_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val v100 = labels100.count()
        val c100v = labels100.select("label").distinct().count()
        println(s"  1x: $v1 vertices / $c1 components; " +
          s"100x: $v100 vertices / $c100v components " +
          s"(isolated at 1x: ${5000 - v1})")
        require(v100 == 500000L,
          s"every doc pairs with its 99 copies — all 500k vertices: $v100")
        require(c100v == c1 + (5000L - v1),
          s"100x components must be 1x components + 1x-isolated bases: " +
            s"$c100v != $c1 + ${5000L - v1}")
        pairs1.unpersist()
        labels100.unpersist()
        v100
      }
      // persisted dedup index at 100×: build over the 500 k-doc corpus
      // (26 M stored shingle rows + counts + fingerprints), then check a
      // fresh 5 k batch against the stored artifacts. Known answer:
      // every batch text appears verbatim in the corpus → ALL 5 000
      // verdicts dropped_exact, ZERO keep.
      timed100("q_d10 DedupIndex 100x") {
        import graft.operators.DedupIndex
        val dir = java.nio.file.Files
          .createTempDirectory("smoke_dedupidx100").toString
        DedupIndex.build(docs100, "doc_id", "text", dir, n = 3)
        val batch = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id") + lit(700000000000L) as "doc_id", col("text"))
        val out = DedupIndex.checkBatch(batch, "doc_id", "text", dir,
            minJaccard = 0.5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val total = out.count()
        val dropped = out.where(col("dropped_exact")).count()
        val kept = out.where(col("keep")).count()
        require(total == 5000L && dropped == 5000L && kept == 0L,
          s"verbatim batch must be fully dropped at 100x: total=$total " +
            s"dropped=$dropped kept=$kept")
        out.unpersist()
        total
      }
      rows1.unpersist()
      pairs100.unpersist(); docs100.unpersist()
      // event family at 100×: sessionize 10 M events (100 salted copies
      // of each sf0.1 user). A copy-user's event multiset is identical
      // to its base's, so session boundaries are identical: the session
      // count is exactly 100× and the per-base session profile
      // (session_idx, start, end, n_events) projected from ANY copy
      // equals the 1× profile row-for-row.
      timed100("sessionize 100x") {
        import graft.operators.Sessions
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
          .select("user_id", "ts")
        val ev100 = timesN(ev, "user_id")
        val s1 = Sessions.sessionize(ev, Seq("user_id"), "ts",
            gapSeconds = 1800)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val s100 = Sessions.sessionize(ev100, Seq("user_id"), "ts",
            gapSeconds = 1800)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n1 = s1.count()
        val n100 = s100.count()
        require(n100 == 100L * n1,
          s"identical event multisets must session identically: " +
            s"$n100 != 100 * $n1")
        val proj = s100.select(
          (col("user_id") % 1000000000L).as("user_id"), col("session_idx"),
          col("session_start"), col("session_end"), col("n_events"))
          .distinct()
        val drift = proj.exceptAll(s1).count() + s1.exceptAll(proj).count()
        require(drift == 0L,
          s"per-base session profiles must match 1x row-for-row: $drift")
        s1.unpersist(); s100.unpersist()
        n100
      }
      // ---- round 14: the round-13 newcomers graduate to 100× ----------
      // q_s22 semantic decontamination with LSH pre-prune at 100×:
      // 200 k corpus vectors vs a 50-vector eval set. Signatures are a
      // pure function of the vector, so a copy collides exactly when its
      // base collides — with the bucket guard DISABLED on both runs (so
      // 100× bucket inflation cannot change the prune), the survivor set
      // is copy-invariant: count == 100 × the 1× count and the surviving
      // BASE id set is identical. Then the guard A/B on a PLANTED hot
      // bucket: 20 k verbatim copies of one vector that also sits in the
      // eval set — guard off drops all of them (verbatim contamination);
      // guard at 10 k prunes the bucket in every band, so all 20 k
      // survive (recall traded, loudly, exactly as documented).
      timed100("q_s22 decontamLsh 100x") {
        import graft.operators.Similarity
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select("vec_id", "embedding")
        val emb100 = timesN(emb, "vec_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val eval = emb.where(col("vec_id") < 50)
          .select((col("vec_id") + lit(900000000000L)).as("vec_id"),
            col("embedding"))
        def lsh(corpus: DataFrame, ev: DataFrame, cap: Int) =
          Similarity.semanticDecontaminateLsh(corpus, ev, "vec_id",
            "embedding", minCosine = 0.99, maxBucketSize = cap)
        val surv1 = lsh(emb, eval, Int.MaxValue)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val out100 = lsh(emb100, eval, Int.MaxValue)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n100 = out100.count()
        require(n100 == 100L * surv1.size,
          s"survivors must be copy-invariant: $n100 != 100 * ${surv1.size}")
        val bases = out100.select((col("vec_id") % 1000000000L).as("b"))
          .distinct().collect().map(_.getLong(0)).toSet
        require(bases == surv1,
          s"surviving base set must match 1x (drift: " +
            s"${(bases diff surv1).take(3)} / ${(surv1 diff bases).take(3)})")
        out100.unpersist()
        // planted hot bucket
        val hot = emb.where(col("vec_id") === 100)
        val planted = spark.range(20000).crossJoin(hot.drop("vec_id"))
          .select((col("id") + lit(800000000000L)).as("vec_id"),
            col("embedding"))
        val corpus2 = emb100.unionByName(planted)
        val eval2 = eval.unionByName(
          hot.select((col("vec_id") + lit(910000000000L)).as("vec_id"),
            col("embedding")))
        val isPlanted = col("vec_id") >= 800000000000L &&
          col("vec_id") < 900000000000L
        val offDrop = lsh(corpus2, eval2, Int.MaxValue)
          .where(isPlanted).count()
        require(offDrop == 0L,
          s"guard off: every planted verbatim copy must drop: $offDrop")
        val onKeep = lsh(corpus2, eval2, 10000).where(isPlanted).count()
        require(onKeep == 20000L,
          s"guard at 10k must prune the hot bucket in every band and " +
            s"keep all planted rows: $onKeep")
        emb100.unpersist()
        n100
      }
      // best-fit packing at 10 M docs: the manifest (driver state) is
      // bounded by bins × length classes — never doc count — while the
      // engine-side rank windows stay per-(group, length)-class. Known
      // answers: every doc lands in exactly one bin, no bin exceeds
      // maxLen, the per-group manifest honors its documented bound, and
      // the assignment is a pure function of the data (checksum equal
      // under repartition+reversal).
      timed100("packBestFit 10M") {
        import graft.operators.Sampling
        val ten = spark.range(10000000L).select(col("id"),
          concat(lit("g"), (col("id") % 16)).as("grp"),
          (pmod(col("id") * lit(2654435761L), lit(2000)) + 1).as("cost"))
        val out = Sampling.packBestFit(ten, "grp", "id", col("cost"), 2048L)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = out.count()
        require(n == 10000000L, s"every doc must land in one bin: $n")
        val worst = out.groupBy("grp", "bin").agg(sum("len").as("f"))
          .agg(max("f")).head().getLong(0)
        require(worst <= 2048L, s"bin overflow: $worst")
        val binsPerGroup = out.select("grp", "bin").distinct()
          .groupBy("grp").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val hist = ten.groupBy("grp", "cost").count().collect()
          .groupBy(_.getString(0))
        var manifestRows = 0L
        hist.foreach { case (g, rows) =>
          val m = Sampling.bestFitManifest(g,
            rows.map(r => (r.getLong(1), r.getLong(2))).toSeq, 2048L)
          manifestRows += m.size
          require(m.size <= binsPerGroup(g) * rows.length,
            s"$g: manifest ${m.size} past bins×classes bound " +
              s"${binsPerGroup(g)} × ${rows.length}")
        }
        println(s"  manifest rows=$manifestRows (bins=" +
          s"${binsPerGroup.values.sum}, classes=${16 * 2000}) for 10M docs")
        val sum1 = out.agg(sum(col("id") * 31 + col("bin")))
          .head().getLong(0)
        val out2 = Sampling.packBestFit(
          ten.orderBy(col("id").desc).repartition(48), "grp", "id",
          col("cost"), 2048L)
        val sum2 = out2.agg(sum(col("id") * 31 + col("bin")))
          .head().getLong(0)
        require(sum1 == sum2,
          s"assignment must be layout-invariant: $sum1 != $sum2")
        out.unpersist()
        n
      }
      // DoReMi at 100×: with sampleFrac = 1.0 the per-round λ is the
      // EXACT per-domain mean of the gridded excess, and a mean is
      // invariant under verbatim duplication (100·Σ / 100·n; IEEE
      // division of the scaled longs rounds to the same double) — so
      // the whole weight trajectory is identical to 1× BY CONSTRUCTION,
      // row for row, while the per-round aggregate chews 500 k docs.
      timed100("doremiWeights 100x") {
        import graft.operators.{Sampling, TextStats}
        val d1 = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"),
            (lit(1.0) - TextStats.qualityScore(col("text"))).as("_x"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val d100 = timesN(d1, "doc_id")
        def traj(df: DataFrame) = Sampling.doremiWeights(df, "lang",
            "doc_id", col("_x"), rounds = 5, sampleFrac = 1.0)
          .orderBy("round", "domain").collect().map(_.toSeq).toSeq
        val t1 = traj(d1)
        val t100 = traj(d100)
        require(t1 == t100,
          s"full-sample trajectory must be duplication-invariant: " +
            s"${t1.take(2)} vs ${t100.take(2)}")
        d1.unpersist()
        t100.size.toLong
      }
      // perceptual image dedup at 100×: 500 base images whose aHash is
      // constructed EXACTLY (8×8 uniform blocks from seeded 64-bit
      // patterns → aHash == pattern), pairwise Hamming > 3 verified
      // driver-side, copied 100× as verbatim PNG bytes. Known answer by
      // construction: every within-base pair is a Hamming-0 dup and no
      // cross-base pair is within budget — exactly 500 · C(100,2)
      // = 2 475 000 pairs, all at hamming 0, through the real decode +
      // banded join.
      timed100("imageNearDups 100x") {
        import graft.operators.Multimodal
        val rnd = new scala.util.Random(14)
        val patterns = Iterator.continually(rnd.nextLong())
          .filter(p => java.lang.Long.bitCount(p) > 4 &&
            java.lang.Long.bitCount(p) < 60)
          .distinct.take(500).toSeq
        for (i <- patterns.indices; j <- 0 until i) {
          require(java.lang.Long.bitCount(patterns(i) ^ patterns(j)) > 6,
            s"fixture patterns too close: $i $j")
        }
        def png(pattern: Long): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(64, 64,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until 64; x <- 0 until 64) {
            val cell = (y / 8) * 8 + (x / 8)
            val v = if ((pattern & (1L << cell)) != 0L) 255 else 0
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        val base = patterns.zipWithIndex.map { case (p, i) =>
          (i.toLong, png(p))
        }
        import spark.implicits._
        val media = spark.createDataset(base).toDF("base_id", "media")
          .crossJoin(spark.range(c100).select(col("id").as("copy")))
          .select((col("base_id") + col("copy") * lit(1000000000L))
            .as("media_id"), col("media"))
        val pairs = Multimodal.imageNearDups(media, maxHamming = 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = pairs.count()
        require(n == 500L * (100L * 99L / 2L),
          s"exactly the within-base copy pairs: $n != ${500L * 4950L}")
        val maxHam = pairs.agg(max("hamming")).head().getLong(0)
        val crossBase = pairs
          .where(col("id_a") % 1000000000L =!= col("id_b") % 1000000000L)
          .count()
        require(maxHam == 0L && crossBase == 0L,
          s"verbatim copies only: maxHamming=$maxHam cross=$crossBase")
        pairs.unpersist()
        n
      }
      return
    }

    // ---- batched-BPE at PRODUCTION vocabulary scale (round 12):
    // k=32 000 — the k real tokenizers use — on the same wide synthetic
    // vocabulary as the k=8000 smoke, batch auto-scaled so driver rounds
    // stay ≤ ~40; then the serve side: BpeEncode (the one-plan-node
    // rank-loop expression) encodes the 10× sf0.1 word stream with the
    // full 32 k vocabulary and the throughput is recorded.
    //   sbt "runMain graft.Bench smoke bpe32k"
    if (mode == "bpe32k") {
      import graft.operators.Bpe
      val k = 32000
      val corpus = spark.range(60000).select(
          substring(md5(col("id").cast("string")), 1, 8).as("w"),
          (lit(1) + col("id") % 97).cast("int").as("n"))
        .select(col("w"), explode(sequence(lit(1), col("n"))).as("_i"))
        .select(monotonically_increasing_id().as("doc_id"),
          col("w").as("text"))
        .localCheckpoint()
      println(s"bpe corpus rows=${corpus.count()}")
      // ~87% of a round's batch is accepted on this tie-heavy profile
      // (the rest defer on token overlap), so k/32 with that headroom
      // keeps the round count ≤ ~40
      val batch = math.ceil(k / 32.0 / 0.85).toInt
      var rounds = 0
      val t0 = System.nanoTime()
      val merges = Bpe.trainBatched(corpus, "text", k = k, batch = batch,
        roundHook = (r, accepted) => {
          rounds = r
          println(f"  round $r%2d: accepted $accepted%4d merges")
        })
      val trainSecs = (System.nanoTime() - t0) / 1e9
      println(f"bpe trainBatched k=$k batch=$batch: ${merges.size} merges " +
        f"in $rounds rounds, $trainSecs%.1f s")
      require(merges.size == k, s"expected $k merges: ${merges.size}")
      require(rounds <= 45, s"expected <= ~40 driver rounds: $rounds")
      // serve throughput: the full 32 k vocabulary as ONE BpeEncode
      // expression over the 10× sf0.1 word stream (the corpus words the
      // graded q_t28b encodes, at bench volume)
      val words10 = (0 until 10).map(i =>
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select((col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
              col("text")))
        .reduce(_ union _)
        .select(explode(graft.operators.Dedup.words(col("text"))).as("w"))
        .where(length(col("w")) > 0)
        .localCheckpoint()
      val nWords = words10.count()
      val t1 = System.nanoTime()
      val toks = words10
        .select(graft.functions.BpeEncode(col("w"), merges).as("toks"))
        .agg(sum(size(col("toks"))))
        .head().getLong(0)
      val encSecs = (System.nanoTime() - t1) / 1e9
      val rate = nWords / encSecs
      println(f"BpeEncode k=$k: $nWords words -> $toks tokens in " +
        f"$encSecs%.1f s = ${rate / 1000}%.0f k words/s")
      require(toks >= nWords, "token count can never shrink below words")
      require(rate > 100000,
        f"32k-vocab encode throughput collapsed: $rate%.0f words/s")
      return
    }

    // ---- unigram-LM at PRODUCTION vocabulary scale (round 13):
    // vocabSize=32 000 on the wide synthetic vocabulary (the corpus
    // tables' 31-word vocabulary cannot seed a real piece space). The
    // claims: (a) EM driver rounds are CONSTANT (emRounds=3 — unlike
    // BPE's k-proportional rounds, EM refines every piece at once), each
    // one histogram aggregate + a vocabulary-sized collect; (b) the
    // serve side (UnigramEncode, one reference-object plan node at any
    // vocabulary size) sustains real throughput on the 10× sf0.1 word
    // stream with the full 32 k vocabulary.
    //   sbt "runMain graft.Bench smoke unigram32k"
    if (mode == "unigram32k") {
      import graft.operators.Unigram
      val v = 32000
      val corpus = spark.range(60000).select(
          substring(md5(col("id").cast("string")), 1, 8).as("w"),
          (lit(1) + col("id") % 97).cast("int").as("n"))
        .select(col("w"), explode(sequence(lit(1), col("n"))).as("_i"))
        .select(monotonically_increasing_id().as("doc_id"),
          col("w").as("text"))
        .localCheckpoint()
      println(s"unigram corpus rows=${corpus.count()}")
      val t0 = System.nanoTime()
      val vocab = Unigram.train(corpus, "text", vocabSize = v,
        maxPieceLen = 6, emRounds = 3,
        roundHook = r => println(s"  EM round $r done"))
      val trainSecs = (System.nanoTime() - t0) / 1e9
      println(f"unigram train V=$v: ${vocab.size} pieces in 3 EM rounds, " +
        f"$trainSecs%.1f s")
      require(vocab.size == v, s"expected $v pieces: ${vocab.size}")
      // serve throughput with the full 32 k vocabulary
      val words10 = (0 until 10).map(i =>
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select((col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
              col("text")))
        .reduce(_ union _)
        .select(explode(graft.operators.Dedup.words(col("text"))).as("w"))
        .where(length(col("w")) > 0)
        .localCheckpoint()
      val nWords = words10.count()
      val t1 = System.nanoTime()
      val pieces = words10
        .select(Unigram.encodeWord(col("w"), vocab, 6).as("ps"))
        .agg(sum(size(col("ps"))))
        .head().getLong(0)
      val encSecs = (System.nanoTime() - t1) / 1e9
      val rate = nWords / encSecs
      println(f"UnigramEncode V=$v: $nWords words -> $pieces pieces in " +
        f"$encSecs%.1f s = ${rate / 1000}%.0f k words/s")
      require(pieces >= 1, "serve pass must produce pieces")
      require(rate > 100000,
        f"32k-vocab Viterbi throughput collapsed: $rate%.0f words/s")
      return
    }

    // ---- batched-BPE throughput smoke (round 11): k=8000 merges on a
    // WIDE synthetic vocabulary (the corpus tables' ~30-word vocabulary
    // exhausts after a few hundred merges, so the driver-round scaling
    // claim needs its own corpus: 60 k distinct 8-char hex words with a
    // 1..97 tie-heavy count profile). Asserts the judge target: 8000
    // merges in <= 20 driver rounds, each round ONE histogram aggregate
    // + one bounded collect.
    //   sbt "runMain graft.Bench smoke bpe"
    if (mode == "bpe") {
      import graft.operators.Bpe
      val corpus = spark.range(60000).select(
          substring(md5(col("id").cast("string")), 1, 8).as("w"),
          (lit(1) + col("id") % 97).cast("int").as("n"))
        .select(col("w"), explode(sequence(lit(1), col("n"))).as("_i"))
        .select(monotonically_increasing_id().as("doc_id"),
          col("w").as("text"))
        .localCheckpoint()
      println(s"bpe corpus rows=${corpus.count()}")
      var rounds = 0
      val t0 = System.nanoTime()
      val merges = Bpe.trainBatched(corpus, "text", k = 8000, batch = 512,
        roundHook = (r, accepted) => {
          rounds = r
          println(f"  round $r%2d: accepted $accepted%3d merges")
        })
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"bpe trainBatched k=8000: ${merges.size} merges in " +
        f"$rounds rounds, $secs%.1f s")
      require(merges.size == 8000, s"expected 8000 merges: ${merges.size}")
      require(rounds <= 20, s"expected <= 20 driver rounds: $rounds")
      return
    }

    // ---- streaming epoch-accretion smoke (round 12): 200 micro-batch
    // epochs through StreamIndexDedup.processEpoch against a persisted
    // index — the evidence behind the batch-sized artifact writes. A
    // long-lived ingest lane accretes one epoch directory per batch; the
    // claims to falsify are (a) each epoch lands ONE file per artifact
    // table (not one per shuffle partition — 200 epochs × 3 tables × 32
    // partitions would be a 19k-file index), (b) per-epoch latency stays
    // near-flat as 200 epochs accrete, and (c) compact folds the
    // 200-epoch layout to row-sized files with check verdicts
    // byte-identical across the swap.
    //   sbt "runMain graft.Bench smoke epochs"
    if (mode == "epochs") {
      import graft.operators.DedupIndex
      import graft.streaming.StreamIndexDedup
      val nEpochs = 200
      val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").localCheckpoint()
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_epochs").toString
      DedupIndex.build(docs1.where(col("doc_id") % 2 === 0),
        "doc_id", "text", dir, n = 3)
      val odd = docs1.where(col("doc_id") % 2 === 1)
      val walls = new Array[Double](nEpochs)
      val tAll = System.nanoTime()
      (0 until nEpochs).foreach { e =>
        val batch = odd.where(((col("doc_id") - 1) / 2) % nEpochs === e)
        val t0 = System.nanoTime()
        StreamIndexDedup.processEpoch(batch, e.toLong, "doc_id", "text",
          dir, minJaccard = 0.5, appendKept = true)((_, _) => ())
        walls(e) = (System.nanoTime() - t0) / 1e9
      }
      val total = (System.nanoTime() - tAll) / 1e9
      val firstAvg = walls.take(20).sum / 20
      val lastAvg = walls.takeRight(20).sum / 20
      def files(part: String): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(dir, part))
      }
      val (sh0, cn0, fp0) = (files("shingles"), files("counts"), files("fps"))
      println(f"epochs: $nEpochs in $total%.1f s — first-20 avg " +
        f"$firstAvg%.2f s, last-20 avg $lastAvg%.2f s; files " +
        f"shingles=$sh0 counts=$cn0 fps=$fp0")
      Seq("shingles" -> sh0, "counts" -> cn0, "fps" -> fp0).foreach {
        case (p, n) => require(n <= nEpochs + 2,
          s"$p must land ONE file per epoch, got $n for $nEpochs epochs")
      }
      require(lastAvg < 5 * firstAvg,
        f"per-epoch latency must stay near-flat: $firstAvg%.2f s -> " +
          f"$lastAvg%.2f s")
      // compact folds the 200-dir layout; verdicts byte-identical
      val probe = docs1.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + lit(700000000000L)).as("doc_id"),
          col("text"))
      val before = DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5)
        .collect().map(_.toString).sorted
      DedupIndex.compact(spark, dir)
      val after = DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5)
        .collect().map(_.toString).sorted
      require(before.sameElements(after),
        "verdicts must be byte-identical across the compaction swap")
      val (sh1, cn1, fp1) = (files("shingles"), files("counts"), files("fps"))
      println(s"  post-compact files shingles=$sh1 counts=$cn1 fps=$fp1")
      require(sh1 <= 3 && cn1 <= 3 && fp1 <= 3,
        s"compact must fold to row-sized files: $sh1/$cn1/$fp1")
      println(s"epoch smoke OK: ${before.length} probe verdicts stable")
      return
    }

    // ---- 1000-epoch accretion smoke with IN-LOOP compaction (round 13):
    // the round-12 smoke proved 200 manual-compact epochs; a 10k-epoch
    // monitor needs compaction IN the loop. Claims to falsify: (a) with
    // compactEvery=100 the artifact file count stays bounded by the
    // interval's accretion (never the epoch count), (b) per-epoch check
    // latency is flat ACROSS compact boundaries (first-100 avg vs
    // last-100 avg, boundary epochs excluded — they carry the fold
    // itself), (c) a replay that STRADDLES a compact leaves every later
    // verdict unchanged (index no-op; the sink-side shrink is the
    // documented non-transactional-sink tolerance). The unfolded-epoch
    // byte-identical replay is pinned at spec scale in DedupIndexSpec
    // (here every epoch is folded by the final boundary compact).
    //   sbt "runMain graft.Bench smoke epochs1k"
    if (mode == "epochs1k") {
      import graft.operators.DedupIndex
      import graft.streaming.StreamIndexDedup
      val nEpochs = 1000
      val every = 100
      val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").localCheckpoint()
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_epochs1k").toString
      DedupIndex.build(docs1.where(col("doc_id") % 2 === 0),
        "doc_id", "text", dir, n = 3)
      val odd = docs1.where(col("doc_id") % 2 === 1).localCheckpoint()
      def files(part: String): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(dir, part))
      }
      def batchOf(e: Int): DataFrame =
        odd.where(((col("doc_id") - 1) / 2) % nEpochs === e)
      val walls = new Array[Double](nEpochs)
      val sinkKept = new Array[Set[Long]](nEpochs)
      var maxFiles = 0
      val tAll = System.nanoTime()
      (0 until nEpochs).foreach { e =>
        val t0 = System.nanoTime()
        StreamIndexDedup.processEpoch(batchOf(e), e.toLong, "doc_id",
          "text", dir, minJaccard = 0.5, appendKept = true,
          compactEvery = every) { (kept, _) =>
          sinkKept(e) = kept.select("doc_id").collect().map(_.getLong(0)).toSet
          ()
        }
        walls(e) = (System.nanoTime() - t0) / 1e9
        if (e % 10 == 9) maxFiles = math.max(maxFiles, files("shingles"))
        if (e % 100 == 99) println(f"  epoch $e: wall ${walls(e)}%.2f s, " +
          s"shingle files ${files("shingles")}, max so far $maxFiles")
      }
      val total = (System.nanoTime() - tAll) / 1e9
      // (b) flat latency across boundaries, compact epochs excluded
      def avgIn(lo: Int, hi: Int): Double = {
        val xs = (lo until hi).filterNot(e => (e + 1) % every == 0)
          .map(walls)
        xs.sum / xs.size
      }
      val firstAvg = avgIn(0, 100)
      val lastAvg = avgIn(nEpochs - 100, nEpochs)
      println(f"epochs1k: $nEpochs in $total%.1f s — first-100 avg " +
        f"$firstAvg%.2f s, last-100 avg $lastAvg%.2f s; max shingle " +
        f"files $maxFiles; final ${files("shingles")}")
      // (a) bounded by the interval, never the epoch count
      require(maxFiles <= every + 3,
        s"file count must stay interval-bounded: $maxFiles > ${every + 3}")
      require(files("shingles") <= 3,
        s"final boundary compact must fold the store: ${files("shingles")}")
      require(lastAvg < 3 * firstAvg,
        f"per-epoch latency must stay flat across compacts: " +
          f"$firstAvg%.2f s -> $lastAvg%.2f s")
      // (c) straddling replay: epoch 57's stamps were folded 9 compacts
      // ago — the index must not move, later verdicts must not drift
      val probe = docs1.where(col("doc_id") % 2 === 0).limit(500)
        .select((col("doc_id") + lit(700000000000L)).as("doc_id"),
          col("text"))
      val before = DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5)
        .collect().map(_.toString).sorted
      var replay57: Set[Long] = null
      StreamIndexDedup.processEpoch(batchOf(57), 57L, "doc_id", "text",
        dir, minJaccard = 0.5, appendKept = true, compactEvery = every) {
        (kept, _) =>
          replay57 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
          ()
      }
      require(replay57.subsetOf(sinkKept(57)),
        "straddling replay may only shrink the kept set")
      val after = DedupIndex.checkBatch(probe, "doc_id", "text", dir, 0.5)
        .collect().map(_.toString).sorted
      require(before.sameElements(after),
        "verdicts must be byte-identical across the straddling replay")
      println(s"epochs1k smoke OK: ${before.length} probe verdicts stable; " +
        s"epoch-57 straddle replay kept ${replay57.size}/${sinkKept(57).size}")
      return
    }

    def times10(df: DataFrame, idCol: String): DataFrame =
      (0 until copies).map(i => df.withColumn(idCol,
        col(idCol) + lit(i.toLong * 1000000000L))).reduce(_ union _)

    val docs = times10(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"),
      "doc_id")
    val emb = times10(
      spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding"),
      "vec_id")
    println(s"docs=${docs.count()} vecs=${emb.count()}")

    def timed(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1fs  rows=$n")
    }

    // same parameters and production-default guards as the oracled queries
    val rows = Dedup.shingleHashRows(docs, "doc_id", "text", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("shingleHashRows") { rows.count() }
    timed("q_d2 jaccardPairs") {
      Dedup.jaccardPairsFromHashes(rows, minJaccard = 0.05,
        maxBucketSize = 1000).count()
    }
    timed("q_d3 minhash+lsh") {
      Dedup.lshCandidatePairs(
          Dedup.minhashFromHashes(rows, k = 64), bands = 16, rowsPerBand = 4)
        .where(col("est_jaccard") >= 0.2).count()
    }
    // round 9: HLL two regimes — the shared shingle VOCABULARY (27 k,
    // copies add no new shingles) and the (doc, shingle) PAIR key at
    // 2.6 M distinct — two orders of magnitude past the graded q_t21's
    // 16 k; the 1.04/√4096 ≈ 1.6% std error must hold at both or the
    // register math is wrong in a way small cardinalities hide
    timed("q_t21 hll 10x") {
      def check(tag: String, keyed: DataFrame): Long = {
        val est = graft.functions.Hll
          .distinctEstimate(keyed, col("_k"), p = 12).collect()(0)
        val n = est.getAs[Long]("n_exact")
        val e = est.getAs[Double]("estimate")
        println(f"  $tag n_exact=$n estimate=$e err=${math.abs(e - n) / n}%.4f")
        require(math.abs(e - n) / n < 0.05,
          s"HLL error must stay < 5%% at $n keys: $e")
        n
      }
      check("vocab", rows.select(col("h").as("_k")))
      check("pairs", rows.select(graft.operators.Sampling.hash60(
        concat_ws("|", col("id"), col("h"))).as("_k")))
    }
    // round 12: semanticDecontaminate at 10× — verbatim copies of a
    // contaminated base are identical vectors, so the kept set at 10×
    // is EXACTLY the 10 salted copies of the 1× kept set (the eval side
    // stays the 1× benchmark slice — decontamination against a fixed
    // benchmark is what scales, the benchmark does not)
    timed("q_s21 decontam 10x") {
      import graft.operators.Similarity
      val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val ev = e1.where(col("vec_id") % 97 === 0)
      val kept1 = Similarity.semanticDecontaminate(e1, ev, "vec_id",
          "embedding", minCosine = 0.95)
        .select("vec_id")
      val kept10 = Similarity.semanticDecontaminate(times10(e1, "vec_id"),
          ev, "vec_id", "embedding", minCosine = 0.95)
        .select("vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n1 = kept1.count()
      val n10 = kept10.count()
      require(n10 == 10L * n1,
        s"kept set must be the 1x kept set x10: $n10 != 10 * $n1")
      val proj = kept10.select((col("vec_id") % 1000000000L).as("vec_id"))
        .distinct()
      val drift = proj.exceptAll(kept1).count() + kept1.exceptAll(proj).count()
      require(drift == 0L, s"kept membership drifted across copies: $drift")
      kept10.unpersist()
      n10
    }
    // round 12: tokenBudgetSelect at 10× — the rounding-proof invariant:
    // verbatim ×10 copies scale every score bin's token mass AND the
    // 37%-of-corpus budget by the same factor, so with all masses
    // multiples of 10 and the budget within 9 of 10× the 1× budget, the
    // boundary BIN is provably identical (10·pfx ≤ 10·b+δ < 10·(pfx+bt)
    // ⇔ pfx ≤ b < pfx+bt for integers, δ < 10) — whole-bin membership at
    // 10× is exactly the copies of the 1× whole-bin members, and the
    // boundary fill stays greedy-tight against the scaled budget
    timed("q_x17 tokenBudget 10x") {
      import graft.operators.{Sampling, TextStats}
      import org.apache.spark.sql.expressions.Window
      val slim1 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          TextStats.qualityScore(col("text")).as("s"),
          TextStats.wordCount(col("text")).as("t"))
        .localCheckpoint()
      val slim10 = times10(slim1, "doc_id").localCheckpoint()
      def budget(df: DataFrame): Long =
        df.agg(sum("t")).head().getLong(0) * 37L / 100L
      // replicate the op's boundary rule independently (histogram +
      // strictly-better prefix) so the invariant is checked against the
      // DEFINITION, not against the implementation under test
      def bscore(df: DataFrame, b: Long): Double =
        df.groupBy("s").agg(sum("t").as("bt"))
          .withColumn("pfx",
            sum(col("bt")).over(Window.orderBy(col("s").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              - col("bt"))
          .where(col("pfx") <= b && col("pfx") + col("bt") > b)
          .select("s").head().getDouble(0)
      val b1 = budget(slim1)
      val b10 = budget(slim10)
      require(b10 - 10L * b1 < 10L, s"scaled budget drifted: $b1 -> $b10")
      val bs1 = bscore(slim1, b1)
      val bs10 = bscore(slim10, b10)
      require(bs10 == bs1,
        s"boundary score must be copy-invariant: $bs1 -> $bs10")
      val sel10 = Sampling.tokenBudgetSelect(slim10, "doc_id", col("s"),
          col("t"), b10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val whole1 = slim1.where(col("s") > bs1).count()
      val whole10 = sel10.where(col("score") > bs1).count()
      require(whole10 == 10L * whole1,
        s"whole-bin keeps must be the 1x keeps x10: $whole10 != 10*$whole1")
      val tot = sel10.agg(sum("tokens")).head().getLong(0)
      require(tot <= b10, s"selection must respect the budget: $tot > $b10")
      val maxBnd = slim10.where(col("s") === bs1)
        .agg(max("t")).head().getLong(0)
      require(b10 - tot < maxBnd,
        s"greedy fill must be tight: gap ${b10 - tot} >= max bin token $maxBnd")
      val n = sel10.count()
      sel10.unpersist()
      n
    }
    // round 9: PageRank over the 10× LSH pair graph (50 k nodes in dense
    // 10-cliques — the densest edge set the guards admit); ranks must
    // stay on the teleport-floored grid through all 10 iterations
    timed("q_d16 pageRank 10x") {
      val pairs = Dedup.lshCandidatePairs(
          Dedup.minhashFromHashes(rows, k = 64), bands = 16, rowsPerBand = 4)
        .where(col("est_jaccard") >= 0.2)
        .select("id_a", "id_b")
      val pr = graft.operators.Graph.pageRank(pairs, iters = 10)
      val bad = pr.where(col("pr") < 0.1499999 || col("pr").isNull).count()
      require(bad == 0L, s"$bad nodes below the teleport floor")
      pr.count()
    }
    // round 10: ITERATION scaling for the two iterative round-9
    // operators. The lineage-flatness claim is asserted on DETERMINISTIC
    // plan shape (max stages of any Spark job via statusTracker — a run
    // whose checkpoint cadence failed would submit a final job whose
    // stage count grows with iterations), wall-clock marginals printed
    // and coarsely gated (the documented ±50% VM noise forbids tight
    // timing gates).
    def runGrouped(tag: String)(body: => Unit): (Double, Int) = {
      val tracker = spark.sparkContext.statusTracker
      spark.sparkContext.setJobGroup(tag, tag)
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      Thread.sleep(300) // job infos register on submit; let the bus settle
      val maxStages = tracker.getJobIdsForGroup(tag)
        .flatMap(id => tracker.getJobInfo(id)).map(_.stageIds.length)
        .foldLeft(0)(math.max)
      (dt, maxStages)
    }
    timed("pr iteration scaling") {
      val prPairs = Dedup.lshCandidatePairs(
          Dedup.minhashFromHashes(rows, k = 64), bands = 16, rowsPerBand = 4)
        .where(col("est_jaccard") >= 0.2).select("id_a", "id_b")
        .localCheckpoint()
      val (t5, s5) = runGrouped("pr5") {
        graft.operators.Graph.pageRank(prPairs, iters = 5).count() }
      val (t10, s10) = runGrouped("pr10") {
        graft.operators.Graph.pageRank(prPairs, iters = 10).count() }
      // ~linear in edges: the same 5 iterations over a ~50% edge sample
      // must not cost MORE than the full set (fixed overhead means it
      // won't halve on a 32-core local box; monotonicity is the stable
      // direction of the claim)
      val half = prPairs.where(graft.operators.Sampling.hash24(
          col("id_a") + col("id_b"), "prhalf") < (1 << 23))
        .localCheckpoint()
      val (tH, _) = runGrouped("prHalf") {
        graft.operators.Graph.pageRank(half, iters = 5).count() }
      println(f"  t5=$t5%.1fs t10=$t10%.1fs marginal=${(t10 - t5) / 5}%.2fs/iter"
        + f" halfEdges(t5)=$tH%.1fs maxStages/job: 5-iter=$s5 10-iter=$s10")
      require(s10 <= s5 + 4,
        s"checkpoint cadence must hold plan depth flat: $s5 -> $s10 stages")
      require(t10 <= t5 * 3.0 + 5.0,
        f"10 iters must cost ~2x 5 (linear), got $t5%.1fs -> $t10%.1fs")
      require(tH <= t5 * 1.5 + 5.0,
        f"half the edges must not cost more: full=$t5%.1fs half=$tH%.1fs")
      half.count()
    }
    timed("classifier epoch scaling") {
      // 50 k-doc corpus, hash labels (content irrelevant to the shape:
      // each epoch is the same 2-aggregate plan over the ONE
      // localCheckpoint'd feature frame + a dim-row collect)
      val labeled = docs.withColumn("y", (col("doc_id") % 2 === 0).cast("long"))
      val (t5, s5) = runGrouped("clf5") {
        graft.operators.Classifier.train(labeled, "doc_id", "text", "y",
          dim = 64, iters = 5, lr = 0.5) }
      val (t15, s15) = runGrouped("clf15") {
        graft.operators.Classifier.train(labeled, "doc_id", "text", "y",
          dim = 64, iters = 15, lr = 0.5) }
      println(f"  t5=$t5%.1fs t15=$t15%.1fs marginal=${(t15 - t5) / 10}%.2fs/iter"
        + f" maxStages/job: 5-iter=$s5 15-iter=$s15")
      require(s15 <= s5 + 1,
        s"epoch plan depth must be constant (features checkpointed once): " +
          s"$s5 -> $s15 stages")
      require(t15 <= t5 * 4.0 + 10.0,
        f"15 epochs must cost ~3x 5 (flat per-epoch), got $t5%.1fs -> $t15%.1fs")
      50000L
    }
    // round 10: BPE training at 10× — verbatim copies multiply EVERY
    // pair count by exactly 10 with the word vocabulary unchanged, so
    // the merge trajectory (pairs, order, tie-breaks) must be
    // IDENTICAL to a 1× run and every count exactly ×10. This is the
    // histogram-not-corpus scale claim made falsifiable: if training
    // leaked any per-occurrence state, copies would perturb it.
    timed("bpe 10x invariance") {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val m1 = graft.operators.Bpe.train(base, "text", k = 10)
      val m10 = graft.operators.Bpe.train(docs, "text", k = 10)
      require(m10.map(m => (m.l, m.r)) == m1.map(m => (m.l, m.r)),
        s"10x merges diverged:\n1x  ${m1}\n10x ${m10}")
      require(m10.map(_.count) == m1.map(_.count * 10),
        s"10x counts must be exactly 10x the 1x counts:\n$m1\n$m10")
      m10.size.toLong
    }
    // q_d5's graded mid-threshold config (0.4, 64 planes / 16 bands) was
    // measured ONCE here at 346.9 s: r=4 bands stop discriminating as n
    // grows (random-pair candidate P = 1−(1−2^-4)^16 ≈ 0.64 → the join
    // degrades toward all-pairs; see COVERAGE.md). The production dedup
    // regime below uses the suggestedHyperplaneConfig scale rule instead;
    // the verbatim copies are cosine-1.0 near-dups, so the expected pair
    // count is known exactly and recall is asserted, not sampled.
    timed("q_d5 scaled neardup 0.9") {
      val (planes, bands) = Dedup.suggestedHyperplaneConfig(
        minCosine = 0.9, targetRecall = 0.9, maxBands = 16)
      println(s"  rule config: planes=$planes bands=$bands r=${planes / bands}")
      val n = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        minCosine = 0.9, planes = planes, bands = bands, dim = 64).count()
      require(n == 2000L * 45,
        s"expected exactly 90000 verbatim cosine-1.0 pairs, got $n")
      n
    }
    // d6 closure over the LSH pairs at 10×: every doc sits in a 10-clique
    // of its verbatim copies, so the label-propagation passes see the
    // densest realistic edge set the guards allow through
    timed("q_d6 closure over pairs") {
      Dedup.componentLabels(
          Dedup.lshCandidatePairs(
              Dedup.minhashFromHashes(rows, k = 64), bands = 16, rowsPerBand = 4)
            .where(col("est_jaccard") >= 0.2)
            .select(col("id_a"), col("id_b")))
        .count()
    }
    // contamination: 50 k-doc eval side vs a small benchmark side (the
    // production shape — benchmark shingle set broadcast-sized)
    val benchmark = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(500)
    timed("q_t7 contamination") {
      Dedup.contaminationFromHashes(
        docs.select(col("doc_id").as("id")), rows,
        Dedup.shingleHashRows(benchmark, "doc_id", "text", n = 3)).count()
    }
    // the 100 TB ANN layout at 10×: IVF-PQ with √n-rule inverted lists
    // (~141 at 20 k vectors), quarter-probe fraction — per-query ADC
    // touches ~nProbe/nCentroids of the corpus
    timed("q_s5 path ivfPqTopK 10x") {
      import graft.operators.{Pq, Similarity}
      val nlist = Similarity.suggestedCentroids(copies * 2000L)
      val nprobe = math.max(1, nlist / 4)
      println(s"  rule config: nlist=$nlist nprobe=$nprobe")
      Pq.ivfPqTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = nlist, nProbe = nprobe).count()
    }
    // PCA → IVF-PQ composition: fit once (ONE moments pass), project
    // 64-d → 16-d, then run the full ANN layout in the PROJECTED space —
    // 4× less ADC/dot work per probe. Honest expectation: these
    // synthetic embeddings are near-ISOTROPIC (top-16 variance share
    // ≈ 0.31, measured — see COVERAGE.md), so recall vs full-dim exact
    // DROPS (≈ 15/25); the stage proves the machinery and the measured
    // caveat, not a compression win this data cannot give.
    timed("pca 64->16 + ivfpq recall") {
      import graft.operators.{Pca, Pq, Similarity}
      val model = Pca.fit(emb, "embedding", 64, 16)
      println(f"  top-16 variance share = ${model.variances.sum / model.totalVariance}%.3f")
      val proj = Pca.project(emb, "embedding", model.components, "p")
        .select(col("vec_id"), col("p").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nlist = Similarity.suggestedCentroids(copies * 2000L)
      val ann = Pq.ivfPqTopK(proj, proj.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, nCentroids = nlist, nProbe = math.max(1, nlist / 4),
        m = 4, dim = 16)
      val exact = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      val hits = ann.select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id")).count()
      println(s"  recall@5 vs full-dim exact: $hits/25")
      // measured 15/25; gate with headroom — last-ulp covariance drift
      // (partition merge order) can move borderline assignments
      require(hits >= 12, s"projected-space recall collapsed: $hits/25")
      proj.unpersist()
      hits
    }
    // PCA pay-off case: the isotropic stage above proves the CAVEAT (no
    // structure → projection costs recall); this stage proves the WIN the
    // operator exists for. Deterministic rank-8-plus-noise table: latent
    // z(id) ∈ R^8 from md5-uniforms, mixed through a fixed gaussian
    // 8×64 matrix, + 0.05-amplitude noise — real embedding corpora are
    // low-rank-ish, synthetic sf tables are not. Top-16 PCA captures
    // 0.998 of variance, so projected dots ≈ full dots; the one subtlety
    // (measured here, kept honest) is that PCA concentrates variance into
    // the leading PQ subvectors, so 4-bit codes go too coarse in the
    // projected space (12/25). Byte codes (codebookSize=256) plus re-rank
    // depth 200 fix that at EQUAL re-rank flops (200 exact 16-d dots =
    // 50 exact 64-d dots) and 4× fewer ADC adds per probed vector
    // (m=4 vs m=16) — the projected layout then matches/beats the
    // full-dim default. Full-dim byte codes (24/25) remain the recall
    // ceiling; the projected point buys 4× ADC and 4× code memory.
    timed("pca low-rank payoff") {
      import graft.operators.{Pca, Pq, Similarity}
      val rank = 8
      val dim = 64
      val rnd = new scala.util.Random(42)
      val w = Array.fill(rank, dim)(rnd.nextGaussian() / math.sqrt(rank.toDouble))
      def u01(salt: Int) = // md5-uniform in [-1, 1), deterministic per (id, salt)
        conv(substring(md5(concat_ws("|", col("id"), lit(salt))), 1, 6), 16, 10)
          .cast("double") / lit(8388607.5d) - 1.0d
      val nVec = copies * 2000L
      val lowRank = spark.range(nVec).select(col("id").as("vec_id"),
        array((0 until dim).map { d =>
          val signal = (0 until rank).map(r => u01(r) * lit(w(r)(d))).reduce(_ + _)
          (signal + u01(1000 + d) * lit(0.05d)).cast("float")
        }: _*).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lowRank.count()
      val model = Pca.fit(lowRank, "embedding", dim, 16)
      println(f"  top-16 variance share = ${model.variances.sum / model.totalVariance}%.3f (low-rank)")
      val proj = Pca.project(lowRank, "embedding", model.components, "p")
        .select(col("vec_id"), col("p").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nlist = Similarity.suggestedCentroids(nVec)
      val nprobe = math.max(1, nlist / 4)
      val exact = Similarity.bruteForceTopK(lowRank,
        lowRank.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      def recall(ann: DataFrame): Long =
        ann.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id")).count()
      val fullDefault = recall(Pq.ivfPqTopK(lowRank,
        lowRank.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = nlist, nProbe = nprobe))
      val fullByte = recall(Pq.ivfPqTopK(lowRank,
        lowRank.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = nlist, nProbe = nprobe, codebookSize = 256))
      val projected = recall(Pq.ivfPqTopK(proj,
        proj.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = nlist, nProbe = nprobe, m = 4, dim = 16,
        codebookSize = 256, rerankDepth = 200))
      println(s"  recall@5 vs exact: full default $fullDefault/25, " +
        s"full byte-codes $fullByte/25, projected m=4 byte-codes $projected/25 " +
        "(4x fewer ADC adds, equal re-rank flops)")
      require(projected >= 18, s"low-rank projected recall should be high: $projected/25")
      require(projected >= fullDefault - 2,
        s"projected layout must match the full-dim default on low-rank data: " +
          s"$projected vs $fullDefault")
      lowRank.unpersist(); proj.unpersist()
      projected
    }
    // semantic dedup at 10×: identical vectors assign to the SAME
    // cluster deterministically, so each group of 10 verbatim copies
    // must drop exactly 9 (the lower-id keeper survives) — a known
    // answer that also exercises the persisted assignment and the
    // cluster-size guard at 20 k vectors / √n-rule clusters
    timed("q_d8 semanticDedup 10x") {
      import graft.operators.Similarity
      val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        minCosine = 0.95,
        nClusters = Similarity.suggestedCentroids(copies * 2000L))
      val dropped = out.where(col("dropped")).count()
      require(dropped == 9L * 2000,
        s"expected exactly 18000 dropped verbatim copies, got $dropped")
      out.count()
    }
    // line dedup at 10×: every 8-word segment of every doc has ≥ 9
    // verbatim copies, so the heavy-line set is the ENTIRE segment
    // vocabulary — the worst case for the anti-join side (nothing is
    // broadcast-small) and for the rebuild (all docs fully dropped)
    timed("q_t11 dropRepeatedLines") {
      val lined = Dedup.withWords(docs, "text", "ws")
        .withColumn("lined", array_join(
          transform(
            sequence(lit(0),
              greatest(ceil(size(col("ws")) / lit(8.0d)).cast("int"), lit(1)) - 1),
            i => array_join(slice(col("ws"), i * 8 + 1, lit(8)), " ")),
          "\n"))
      val out = graft.operators.TextStats.dropRepeatedLines(
        lined, "doc_id", "lined", minDocFreq = 2)
      val n = out.count()
      val kept = out.agg(sum("n_kept")).head().getLong(0)
      require(kept == 0L,
        s"every segment has 9 verbatim copies — expected 0 kept lines, got $kept")
      n
    }
    // bigram LM at 10×: the verbatim copies multiply every bigram count
    // by exactly 10 while V is unchanged, so each doc's avg_nll must
    // equal its twin's — and the stage stresses the (w1, w2) scoring
    // joins with the corpus's hottest heads at 50 k docs / ~2.9 M bigram
    // occurrences (the shape AQE's skew split exists for)
    timed("q_t15 bigramLm 10x") {
      val out = graft.operators.TextStats.bigramLm(docs, "doc_id", "text")
      val distinctScores = out.where(col("avg_nll").isNotNull)
        .select((col("doc_id") % 1000000000L).as("base"), col("avg_nll"))
        .distinct().groupBy("base").count().where(col("count") > 1).count()
      require(distinctScores == 0L,
        s"verbatim copies must score identically: $distinctScores bases diverge")
      out.count()
    }
    // sequence packing at 10×: 50 k docs through the keyed window +
    // span explode; per-group token conservation is the known answer
    timed("q_x8 packSequences 10x") {
      val docsFull = times10(spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "lang", "n_chars"), "doc_id")
      val packed = graft.operators.Sampling.packSequences(
        docsFull, "lang", "doc_id", "n_chars", seqLen = 2048L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val packedTotal = packed
        .agg(sum(col("tok_end") - col("tok_start"))).head().getLong(0)
      val costTotal = docsFull.where(col("n_chars") > 0)
        .agg(sum("n_chars")).head().getLong(0)
      require(packedTotal == costTotal,
        s"span tokens must conserve the corpus total: $packedTotal != $costTotal")
      val n = packed.count()
      packed.unpersist()
      n
    }
    // incremental batch-vs-corpus: one fresh sf0.1 batch (5 k docs)
    // against the 50 k-doc corpus, corpus shingles precomputed (the
    // grows-batch-by-batch pipeline shape)
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id") + lit(100000000000L) as "doc_id", col("text"))
    timed("q_d7 dedupAgainstCorpus") {
      Dedup.dedupAgainstCorpusFromHashes(batch, docs, "doc_id", "text",
        Dedup.shingleHashRows(batch, "doc_id", "text", n = 3), rows,
        minJaccard = 0.5).count()
    }
    // exact substring dedup at 10×: the verbatim copies make EVERY gram
    // of every copied doc repeated, and the global first occurrence
    // (min (id, pos)) always lies in the base copy — so (a) every
    // non-base doc with ≥ gramLen tokens must be FULLY hollowed out and
    // (b) base-copy verdicts must be IDENTICAL to a 1×-only run (copies
    // are never first occurrences, so they cannot change base spans)
    timed("q_d11 exactSubstringDedup") {
      val out10 = Dedup.exactSubstringDedup(docs, "doc_id", "text",
          gramLen = 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val partial = out10.where(col("id") >= 1000000000L &&
        col("n_tokens") >= 10 && col("n_removed") =!= col("n_tokens")).count()
      require(partial == 0L,
        s"every copied doc must be fully removed: $partial survive partially")
      val base10 = out10.where(col("id") < 1000000000L)
        .select("id", "n_removed", "text_clean")
      val base1 = Dedup.exactSubstringDedup(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text"), "doc_id", "text", gramLen = 10)
        .select("id", "n_removed", "text_clean")
      val drift = base10.exceptAll(base1).count() + base1.exceptAll(base10).count()
      require(drift == 0L, s"base verdicts drifted under 10x copies: $drift rows")
      val n = out10.count()
      out10.unpersist()
      n
    }
    // strict curation chain at 10×: the verbatim copies are EXACT dups,
    // so stage 1 (fingerprint dedup, keeper = min id) collapses every
    // 10-copy group to its base doc before any later stage runs — the
    // whole chain is copy-invariant and the 10× output must equal the
    // 1× output ROW FOR ROW (ids, cleaned text, costs, splits, shards)
    timed("curateStrict 10x == 1x") {
      val docsFull10 = times10(spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang", "n_chars"), "doc_id")
      val gp = graft.operators.TextStats.GopherParams(minStopwordHits = 1)
      def strict(d: DataFrame) = graft.api.Pipeline.curateStrict(
        d, "doc_id", "text", "lang", "n_chars", gramLen = 10, gopher = gp)
      val s10 = strict(docsFull10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s1 = strict(spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang", "n_chars"))
      val drift = s10.exceptAll(s1).count() + s1.exceptAll(s10).count()
      require(drift == 0L,
        s"strict chain must be copy-invariant: $drift diverging rows")
      val n = s10.count()
      s10.unpersist()
      n
    }
    // persisted dedup index at 10×: build over the 50 k-doc corpus once
    // (2.6 M stored shingle rows), then check the fresh 5 k batch from
    // the stored artifacts with the batch sides broadcast. Known answer:
    // every batch text appears verbatim in the corpus, so ALL 5 000
    // verdicts are dropped_exact and ZERO keep — one wrong stored hash
    // or fingerprint and a verdict flips
    timed("q_d10 DedupIndex build+check") {
      import graft.operators.DedupIndex
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_dedupidx").toString
      DedupIndex.build(docs, "doc_id", "text", dir, n = 3)
      val out = DedupIndex.checkBatch(batch, "doc_id", "text", dir,
          minJaccard = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = out.count()
      val dropped = out.where(col("dropped_exact")).count()
      val kept = out.where(col("keep")).count()
      require(total == 5000L && dropped == 5000L && kept == 0L,
        s"verbatim batch must be fully dropped: total=$total " +
          s"dropped=$dropped kept=$kept")
      out.unpersist()
      total
    }
    // TF-IDF keywords at 10×: verbatim copies scale N and every df by
    // exactly 10, so idf = ln(N/df) is INVARIANT and each copy's ranked
    // keyword rows must equal its twin's — zero diverging (base, rank)
    // groups, while the tf/df aggregates run at 50 k docs / ~4.4 M
    // token rows
    timed("q_t16 tfidfTopTerms 10x") {
      val out = graft.operators.TextStats
        .tfidfTopTerms(docs, "doc_id", "text", topK = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val diverging = out
        .select((col("doc_id") % 1000000000L).as("base"), col("rank"),
          col("word"), col("score"))
        .distinct().groupBy("base", "rank").count()
        .where(col("count") > 1).count()
      require(diverging == 0L,
        s"verbatim copies must rank identical keywords: $diverging diverge")
      val n = out.count()
      out.unpersist()
      n
    }
    // hybrid BM25→cosine at 10×: tf/avgdl are 10×-invariant and the
    // idf ORDER is preserved (the +0.5 smoothing shifts absolute idf a
    // hair at 10×, so scores aren't bit-equal — ranking is), so the 10×
    // top-50 cut must be exactly the 1× top-5's base docs, each with
    // its 10 verbatim copies tied at one score; the cosine rerank then
    // touches only those 50 candidate rows against the 20 k-vector table
    timed("q_s6 hybrid retrieve 10x") {
      import graft.operators.{Ranking, Similarity}
      val terms = Seq("spark", "join", "window")
      val base1x = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val top5 = Ranking.bm25(base1x, "doc_id", "text", terms, topK = 5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val cands = Ranking.bm25(docs, "doc_id", "text", terms, topK = 50)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val byBase = cands.select((col("doc_id") % 1000000000L).as("base"),
          col("score")).collect().groupBy(_.getLong(0))
      require(byBase.keySet == top5,
        s"10x top-50 must select the 1x top-5 bases: got ${byBase.keySet}")
      require(byBase.values.forall(rs =>
          rs.length == 10 && rs.map(_.getDouble(1)).distinct.length == 1),
        "each base must appear as 10 copies tied at one score")
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
        .withColumn("qn", Similarity.norm(col("qe")))
        .where(col("qn") > 0)
      val n = cands
        .join(emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("ce")),
          col("doc_id") === col("vec_id"))
        .withColumn("cn", Similarity.norm(col("ce")))
        .where(col("cn") > 0)
        .crossJoin(broadcast(qv))
        .select(col("doc_id"),
          round(Similarity.dot(col("qe"), col("ce")) /
            (col("qn") * col("cn")), 6).as("cosine"))
        .count()
      cands.unpersist()
      n
    }
    // hierarchical assignment at 10×: verbatim copies are IDENTICAL
    // vectors, so each group of 10 must take the exact same two-level
    // path (same top supers, same restricted argmax) — zero diverging
    // copy-groups, while the stage pushes 20 k vectors through the
    // super + restricted stages at √n-rule lists
    timed("hierarchical assign 10x") {
      import graft.operators.Similarity
      val c = emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"))
        .withColumn("cn", Similarity.norm(col("cv")))
        .where(col("cn") > 0)
      val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding",
        Similarity.suggestedCentroids(copies * 2000L))
      val diverging = Similarity.assignToHierarchical(c, cents, probeSupers = 2)
        .select((col("neighbor_id") % 1000000000L).as("base"), col("centroid_id"))
        .distinct().groupBy("base").count().where(col("count") > 1).count()
      require(diverging == 0L,
        s"verbatim copies must assign identically: $diverging bases diverge")
      c.count()
    }
    // persisted index at 10×: build over 20 k vectors (√n-rule lists),
    // then PROVE the probe prunes file reads — the planned scan's
    // selected files are counted against the index's total files via
    // the same listFiles call the scheduler uses
    timed("q_s7 index build+search 10x") {
      import graft.operators.{IvfPqIndex, Similarity}
      val dir = java.nio.file.Files.createTempDirectory("smoke_ivfpq").toString
      val nCent = Similarity.suggestedCentroids(copies * 2000L)
      IvfPqIndex.build(emb, "vec_id", "embedding", dir,
        nCentroids = nCent, m = 16, dim = 64, codebookSize = 16)
      val res = IvfPqIndex.search(spark, dir, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nProbe = 8, rerankDepth = 50,
        rerank = Some(emb))
      val n = res.count()
      // AQE-aware scan hunt: AdaptiveSparkPlanExec presents as a leaf to
      // collect(), so recurse through its current physical plan
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
        }.flatten
      val fsScan = scans(res.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains("/codes")))
        .head
      val read = fsScan.relation.location
        .listFiles(fsScan.partitionFilters, Nil).map(_.files.size).sum
      val total = fsScan.relation.location.listFiles(Nil, Nil)
        .map(_.files.size).sum
      println(s"  codes files read=$read of $total " +
        s"(nCent=$nCent, nProbe=8, 5 queries)")
      require(read > 0 && read < total / 2,
        s"probe must prune the codes scan: read $read of $total files")
      n
    }
  }
}
