package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The harness main (`graft.Verify`, the correctness dump, is the only
  * other one). Every subcommand runs on [[GraftSession.local]], reads
  * its environment through [[Bench.Env]] and selects queries by name
  * prefix; every count-timed path times a query with [[Bench.time]].
  *
  * {{{
  * graft.Bench                                   the suite bench (below)
  * graft.Bench micro <prefix,...>                one pass over the selected queries
  * graft.Bench ab <baseClasspathFile> <prefix,...> [rounds]
  * graft.Bench explain <query> [sfDir]           formatted plan, three noop-sink timings
  * graft.Bench plans <outDir> <suffix> <prefix,...>
  * graft.Bench probe <query>                     one line per Spark job of the query
  * graft.Bench synth <baseDir> <outDir> <copies> see [[Scale.writeCopies]]
  * graft.Bench scale <N> <prefix,...>            see [[scale]]
  * }}}
  *
  * `ab` runs `micro` in fresh child JVMs, in interleaved pairs that
  * alternate this JVM's classpath and the one listed in the file (one
  * line, as `sbt "export Runtime/fullClasspath"` prints it), and prints
  * each query's min-per-side ratio, the total ratio and the median
  * per-query ratio. The base side must contain this harness; to compare
  * against an older commit, run `perfbench/run.py` in each checkout.
  *
  * '''Suite bench.''' The timed statistic is each query's MIN over
  * `SPARK_GRAFT_BENCH_RUNS` (default 5) fresh forked child JVMs (same
  * flags and classpath as this one; `=1` runs one pass inline). Runs must
  * be isolated: repeat passes in one JVM inflated heavy queries 3–9×
  * (persist churn, cleaner backlog, GC). Host noise only ever adds time,
  * so the minimum of isolated runs is the code-speed estimate; a trimmed
  * median did not survive two contended forks out of five. Queries whose
  * max/min over runs exceeds 2 are listed as "unstable".
  *
  * The record-keeper keeps only the last 2,000 bytes of stdout, too few
  * for a map of every query, so stdout ends with, in order:
  *  1. the full record, one line carrying "queries" (the per-query mins;
  *     the forking parent parses its children from it);
  *  2. the `per_query` line: the 40 slowest queries, "n" and "n_omitted",
  *     at most 1.4 KB;
  *  3. the slim summary line, twice (a duplicate survives one copy being
  *     clipped by interleaved output).
  * The full record also goes pretty-printed, with per-query trimmed
  * medians, to BENCH_LOCAL.json (`SPARK_GRAFT_BENCH_LOCAL`, "" to skip);
  * raw samples go to stderr and `SPARK_GRAFT_BENCH_SAMPLES`.
  */
object Bench {

  private type Query = (SparkSession, String) => DataFrame

  private val Usage =
    """usage: graft.Bench [micro <prefix,...> | ab <baseClasspathFile> <prefix,...> [rounds] |
      |  explain <query> [sfDir] | plans <outDir> <suffix> <prefix,...> | probe <query> |
      |  synth <baseDir> <outDir> <copies> | scale <N> <prefix,...>]""".stripMargin

  /** The queries whose names start with one of the comma-separated
    * prefixes, by name. */
  private def select(prefixes: String): Seq[(String, Query)] = {
    val ps = prefixes.split(",").toSeq
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => ps.exists(n.startsWith) }
  }

  /** Warms codegen, the JIT and the file-source paths, so the first timed
    * query does not absorb session start-up. */
  private def warm(spark: SparkSession): Unit =
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

  /** Times one query under the `count()` action: (seconds, rows), rows -1
    * if it failed. */
  private def time(spark: SparkSession, name: String, fn: Query,
                   sfDir: String): (Double, Long) = {
    spark.sparkContext.setJobDescription(name)
    val t0 = System.nanoTime()
    val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[bench] $name%-28s $sec%8.2fs  rows=$n")
    (sec, n)
  }

  /** One warm pass in this session over the given queries. */
  private def pass(spark: SparkSession, queries: Seq[(String, Query)]): Seq[(String, Double)] = {
    warm(spark)
    queries.map { case (name, fn) => name -> time(spark, name, fn, Env.sfDir)._1 }
  }

  /** Locale-invariant fixed-point formatting: `f"..."` uses the default
    * locale, and a comma-decimal one would emit `1,2345`, invalid JSON
    * that [[fork]]'s value regex would also misread. */
  private def num(v: Double, decimals: Int = 4): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f",
      java.lang.Double.valueOf(v))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** With four or more runs, the median without the min and max sample. */
  private def trimmedMedian(xs: Seq[Double]): Double =
    median(if (xs.size >= 4) xs.sorted.slice(1, xs.size - 1) else xs)

  /** Sidecar JSON: the raw per-run samples and the trimmed medians. */
  private def samplesJson(queries: Seq[(String, Double)],
                          samples: Map[String, Seq[Double]],
                          medians: Map[String, Double]): String = {
    val ss = queries.map { case (k, _) =>
      "\"" + k + "\":" + samples(k).map(num(_)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val ms = queries.map { case (k, _) =>
      "\"" + k + "\":" + num(medians(k))
    }.mkString("{", ",", "}")
    s"""{"samples":$ss,"medians":$ms}"""
  }

  /** The queries whose max/min over runs exceeds 2, as a JSON array. */
  private def unstable(queries: Seq[(String, Double)],
                       samples: Map[String, Seq[Double]]): String =
    queries.collect { case (k, _) if samples(k).max > 2 * samples(k).min => "\"" + k + "\"" }
      .mkString("[", ",", "]")

  private def jsonLine(queries: Seq[(String, Double)],
                       samples: Map[String, Seq[Double]], runs: Int,
                       sfDir: String): String = {
    val qs = queries.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = queries.map(_._2).sum
    s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$runs,""" +
      s""""sf":"$sfDir","unstable":${unstable(queries, samples)},"queries":$qs}"""
  }

  /** The `per_query` line: the 40 slowest queries by min time (3
    * decimals), "n" queries timed and "n_omitted" not listed. With the
    * longest query names it stays under 1.4 KB, so together with the two
    * summary lines after it the whole line fits the record-keeper's
    * 2,000-byte tail. No "queries" key: that key marks the full record. */
  private[graft] def perQueryLine(queries: Seq[(String, Double)], runs: Int): String = {
    val top = queries.sortBy(-_._2).take(40)
    val qs = top.map { case (k, v) => "\"" + k + "\":" + num(v, 3) }.mkString("{", ",", "}")
    s"""{"metric":"per_query","unit":"sec","runs":$runs,"n":${queries.size},""" +
      s""""n_omitted":${queries.size - top.size},"mins":$qs}"""
  }

  /** The slim summary, the last stdout line: scalars only. "value" sums
    * the per-query mins (code speed), "value_median" the trimmed medians
    * (an expected run). */
  private[graft] def summaryLine(queries: Seq[(String, Double)], runs: Int,
                                 sfDir: String,
                                 medians: Map[String, Double]): String = {
    val total = queries.map(_._2).sum
    val medTotal = queries.map { case (k, _) => medians(k) }.sum
    s"""{"metric":"total","value":${num(total)},""" +
      s""""value_median":${num(medTotal)},"unit":"sec","runs":$runs,""" +
      s""""n":${queries.size},"sf":"$sfDir"}"""
  }

  /** The full record for BENCH_LOCAL.json, one query per line: the
    * fields of [[jsonLine]] plus the per-query trimmed medians. */
  private def prettyRecord(queries: Seq[(String, Double)],
                           samples: Map[String, Seq[Double]],
                           medians: Map[String, Double], runs: Int,
                           sfDir: String): String = {
    val total = queries.map(_._2).sum
    val medianTotal = queries.map { case (k, _) => medians(k) }.sum
    val qs = queries.map { case (k, v) => s"""    "$k": ${num(v)}""" }
      .mkString(",\n")
    val ms = queries.map { case (k, _) => s"""    "$k": ${num(medians(k))}""" }
      .mkString(",\n")
    s"""{
  "metric": "total",
  "value": ${num(total)},
  "value_median": ${num(medianTotal)},
  "unit": "sec",
  "runs": $runs,
  "n": ${queries.size},
  "sf": "$sfDir",
  "unstable": ${unstable(queries, samples)},
  "queries": {
$qs
  },
  "medians": {
$ms
  }
}
"""
  }

  /** Runs `graft.Bench <args>` in a fresh JVM with this JVM's flags on the
    * given classpath, and returns the "queries" map of the last stdout
    * line that carries one, or None if the child failed. */
  private def fork(classpath: String, args: Seq[String],
                   env: Map[String, String]): Option[Map[String, Double]] = {
    import scala.jdk.CollectionConverters._
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val pb = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", classpath, "graft.Bench") ++ args).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val outLines = scala.io.Source.fromInputStream(p.getInputStream)
      .getLines().toSeq
    val code = p.waitFor()
    val json = outLines.reverseIterator.find(l =>
      l.startsWith("{\"metric\"") && l.contains("\"queries\""))
    // names never contain quotes or commas, values are plain doubles
    val pairs = json.toSeq.flatMap { j =>
      val q = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(j).map(_.group(1)).getOrElse("")
      "\"([^\"]+)\":([0-9.eE+-]+)".r.findAllMatchIn(q).map(m => m.group(1) -> m.group(2).toDouble)
    }.toMap
    if (code != 0 || pairs.isEmpty) {
      System.err.println(s"[bench] child ${args.mkString(" ")} FAILED " +
        s"(exit=$code, json=${json.isDefined}), skipped")
      None
    } else Some(pairs)
  }

  /** Writes the sidecar and BENCH_LOCAL.json and prints the stdout
    * records, in the order the object scaladoc gives. */
  private def emit(mins: Seq[(String, Double)], bySample: Map[String, Seq[Double]],
                   n: Int): Unit = {
    val meds = mins.map { case (k, _) => k -> trimmedMedian(bySample(k)) }.toMap
    val ss = samplesJson(mins, bySample, meds)
    System.err.println(s"[bench] sidecar: $ss")
    try Files.writeString(Paths.get(Env.sidecar), ss)
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    if (Env.localArtifact.nonEmpty) {
      try Files.writeString(Paths.get(Env.localArtifact),
        prettyRecord(mins, bySample, meds, n, Env.sfDir))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] BENCH_LOCAL write failed: ${e.getMessage}") }
    }
    println(jsonLine(mins, bySample, n, Env.sfDir))
    println(perQueryLine(mins, n))
    val slim = summaryLine(mins, n, Env.sfDir, meds)
    println(slim)
    println(slim)
  }

  private def benchForked(): Unit = {
    val samples = (1 to Env.runs).flatMap { run =>
      System.err.println(s"[bench] forking isolated run $run/${Env.runs}")
      // a child runs one pass inline and must not clobber the artifact
      fork(System.getProperty("java.class.path"), Nil,
        Map("SPARK_GRAFT_BENCH_RUNS" -> "1", "SPARK_GRAFT_BENCH_LOCAL" -> ""))
    }
    require(samples.nonEmpty, s"all ${Env.runs} forked bench runs failed")
    val names = samples.head.keys.toSeq.sorted
    val bySample = names.map(n => n -> samples.map(_(n))).toMap
    emit(names.map(n => n -> bySample(n).min), bySample, samples.size)
  }

  private def micro(spark: SparkSession, prefixes: String): Unit = {
    val qs = pass(spark, select(prefixes))
      .map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"micro","queries":$qs}""")
  }

  private def ab(baseClasspathFile: String, prefixes: String, rounds: Int): Unit = {
    val sides = Seq("cur" -> System.getProperty("java.class.path"),
      "base" -> Files.readString(Paths.get(baseClasspathFile)).trim)
    val runs = (1 to rounds).flatMap { i =>
      // alternate which side runs first, so host drift falls on both
      (if (i % 2 == 1) sides else sides.reverse).flatMap { case (side, cp) =>
        System.err.println(s"[ab] round $i/$rounds $side")
        fork(cp, Seq("micro", prefixes), Map.empty).map(side -> _)
      }
    }
    def mins(side: String): Map[String, Double] = {
      val rs = runs.collect { case (`side`, qs) => qs }
      require(rs.nonEmpty, s"every $side run failed")
      rs.flatMap(_.keys).distinct.map(k => k -> rs.flatMap(_.get(k)).min).toMap
    }
    val (cur, base) = (mins("cur"), mins("base"))
    val common = cur.keySet.intersect(base.keySet).toSeq.sorted
    common.foreach { k =>
      println(f"${base(k)}%8.2f -> ${cur(k)}%8.2f  x${cur(k) / base(k)}%.3f  $k")
    }
    val (tb, tc) = (common.map(base).sum, common.map(cur).sum)
    val medRatio = median(common.map(k => cur(k) / base(k)))
    println(f"total  $tb%.2f -> $tc%.2f  x${tc / tb}%.3f  median per-query x$medRatio%.3f")
    println(s"""{"metric":"ab","rounds":$rounds,"n":${common.size},"base":${num(tb)},""" +
      s""""cur":${num(tc)},"total_ratio":${num(tc / tb)},"median_ratio":${num(medRatio)}}""")
  }

  private def explain(spark: SparkSession, name: String, sfDir: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    // the noop sink computes every output column; count() would prune them
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
  }

  /** Writes each selected query's formatted physical plan to
    * `<outDir>/<query>_<suffix>.txt`, from the session the bench measures.
    * Under AQE a static plan is `AdaptiveSparkPlan isFinalPlan=false`: the
    * files pin its shape (exchanges, join strategies, pushed filters, read
    * schema), not runtime partition counts. */
  private[graft] def plans(spark: SparkSession, sfDir: String, outDir: String,
                           suffix: String, prefixes: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    select(prefixes).foreach { case (name, fn) =>
      System.err.println(s"[plans] $name")
      try Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      catch { case e: Throwable => System.err.println(s"[plans] $name failed: ${e.getMessage}") }
    }
  }

  /** Times one query and prints a line per Spark job it ran: job time,
    * call site and stages with their task counts. */
  private def probe(spark: SparkSession, name: String): Unit = {
    warm(spark)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val cs = Option(j.properties.getProperty("callSite.short")).getOrElse("")
        val stages = j.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n').take(60)}(${si.numTasks})").mkString(" <- ")
        starts.put(j.jobId, (System.nanoTime(), s"$cs | stages=${j.stageIds.size}: $stages"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        // remove, not get: a dropped start event must not fail the listener
        Option(starts.remove(j.jobId)).foreach { case (t0, d) =>
          println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $d")
        }
    })
    val (sec, n) = time(spark, name, SparkEntry.queries(name), Env.sfDir)
    Thread.sleep(500) // the listener bus delivers the last job ends
    println(f"[total] $sec%.2fs rows=$n")
  }

  /** The declared queries ([[Scale.Declared]]) among those the prefixes
    * select. */
  private def declared(prefixes: String): Seq[String] =
    select(prefixes).map(_._1).filter(Scale.Declared.contains)

  /** Checks each selected query's scale invariant at `n`× over the
    * harness dir ([[Scale.check]]), prints its 1× and `n`× build-and-cache
    * times, and fails if any invariant broke. */
  private def scale(spark: SparkSession, n: Int, prefixes: String): Unit = {
    val outcomes = Scale.check(spark, Env.sfDir, n,
      declared(prefixes).map(q => q -> Scale.Declared(q)))
    outcomes.foreach { o =>
      println(f"[scale] ${o.name}%-28s 1x ${o.secs1}%7.2fs  ${n}x ${o.secsN}%8.2fs  " +
        o.failure.fold("ok")("FAILED: " + _))
    }
    val failed = outcomes.filter(_.failure.isDefined).map(_.name)
    require(failed.isEmpty, s"scale invariants broken: ${failed.mkString(", ")}")
  }

  /** The harness's environment knobs, each with its one default. */
  private object Env {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES",
      "/tmp/graft_bench_samples.json")
    val localArtifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOCAL", "BENCH_LOCAL.json")
  }

  /** A parsed command line: a body run in the harness session, or one
    * that only forks child JVMs. */
  private[graft] sealed trait Cmd
  private[graft] final case class InSession(body: SparkSession => Unit) extends Cmd
  private[graft] final case class Forks(body: () => Unit) extends Cmd

  private[graft] def parse(args: Seq[String]): Either[String, Cmd] = {
    def query(q: String) = SparkEntry.queries.contains(q)
    def some(prefixes: String) = select(prefixes).nonEmpty
    def positive(n: String) = n.toIntOption.exists(_ > 0)
    def file(path: String) = Files.isRegularFile(Paths.get(path))
    args match {
      case Seq() => Right(
        if (Env.runs <= 1) InSession { s =>
          val r = pass(s, SparkEntry.queries.toSeq.sortBy(_._1))
          emit(r, r.map { case (k, v) => k -> Seq(v) }.toMap, 1)
        } else Forks(() => benchForked()))
      case Seq("micro", ps) if some(ps) => Right(InSession(micro(_, ps)))
      case Seq("ab", cpFile, ps) if file(cpFile) && some(ps) => Right(Forks(() => ab(cpFile, ps, 3)))
      case Seq("ab", cpFile, ps, r) if file(cpFile) && some(ps) && positive(r) =>
        Right(Forks(() => ab(cpFile, ps, r.toInt)))
      case Seq("explain", q) if query(q) => Right(InSession(explain(_, q, Env.sfDir)))
      case Seq("explain", q, sf) if query(q) => Right(InSession(explain(_, q, sf)))
      case Seq("plans", out, suffix, ps) if some(ps) => Right(InSession(plans(_, Env.sfDir, out, suffix, ps)))
      case Seq("probe", q) if query(q) => Right(InSession(probe(_, q)))
      // core-ratio inputs (no oracle): per-copy document text keeps the
      // exact-dup stages' rows
      case Seq("synth", base, out, n) if positive(n) =>
        Right(InSession(Scale.writeCopies(_, base, out, n.toInt, perturb = true)))
      case Seq("scale", n, ps) if n.toIntOption.exists(_ >= 2) && declared(ps).nonEmpty =>
        Right(InSession(scale(_, n.toInt, ps)))
      case _ => Left(s"$Usage\ngot: ${args.mkString(" ")}")
    }
  }

  /** Runs a command line; the session comes from `session` and is stopped
    * after the body. Returns the exit code: 2 on a usage error, which is
    * reported before any session is built. */
  private[graft] def run(args: Seq[String], session: () => SparkSession): Int =
    parse(args) match {
      case Left(usage) => System.err.println(usage); 2
      case Right(Forks(body)) => body(); 0
      case Right(InSession(body)) =>
        val spark = session()
        try body(spark) finally spark.stop()
        0
    }

  def main(args: Array[String]): Unit = {
    val code = run(args.toSeq, () => GraftSession.local(Env.cpus))
    if (code != 0) sys.exit(code)
  }
}
