package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Declared scale invariants: what a query's output must be when its
  * input is N verbatim copies of a testdata dir, checked by running the
  * query on the dir and on the copy.
  *
  * A verbatim copy repeats every text, vector and event N times, so a
  * query whose result should depend only on distinct content, on
  * frequencies or on per-id work has a known answer at any N. Each form
  * states one such answer:
  *  - [[Same]]: the N× output equals the 1× output;
  *  - [[Replicated]]: with each id column mapped back to `id % Salt`,
  *    the N× output holds every 1× row exactly N times;
  *  - [[Scaled]]: the N× output equals the 1× output once the count
  *    columns are divided by N;
  *  - [[Rows]]: the N× row count is a closed form of N and the 1× count.
  *
  * [[Declared]] holds each query's form. `ScaleSpec` runs every one at
  * N = 3 on sf0.001, and `graft.Bench scale <N> <prefix,...>` runs the
  * same check at 10× or 100× and prints the 1× and N× times.
  */
object Scale {

  /** Copy i's ids are salted by i × Salt, in both [[writeCopies]] modes. */
  val Salt = 1000000000L

  sealed trait Invariant
  case object Same extends Invariant
  final case class Replicated(idCols: String*) extends Invariant
  final case class Scaled(countCols: String*) extends Invariant
  final case class Rows(f: (Int, Long) => Long) extends Invariant

  /** Each declared query's invariant, by query name: the one place a
    * query's scale invariant lives until a query registry carries it. */
  val Declared: Map[String, Invariant] = Map(
    // exact dedup keeps the min id of each copy group, the base doc, so
    // every later stage sees the 1x corpus
    "q_e2e_strict" -> Same,
    // copies add no shingles: the distinct count and its sketch stay
    "q_t21_hll_shingles" -> Same,
    // every pair count grows N-fold over the same vocabulary, so the
    // merge trajectory and its tie-breaks stay
    "q_t27_bpe_train" -> Scaled("pair_count"),
    // a copied event lands at the same instant: the boundaries stay,
    // each session holds N times the events and value
    "q_w5_sessionize" -> Scaled("n_events", "total_value"),
    // a batch doc's verdict depends only on which texts the corpus holds
    "q_d7_incremental_dedup" -> Replicated("id"),
    "q_d10_dedup_index" -> Replicated("id"),
    "q_t7_contamination" -> Replicated("id"),
    // N and every df grow N-fold, so idf and each doc's ranking stay
    "q_t16_tfidf_terms" -> Replicated("doc_id"),
    // every doc lands in exactly one bin
    "q_x18_bestfit_pack" -> Rows((n, n1) => n * n1)
  )

  /** The tables whose rows are copied, with the id column each copy
    * salts; every other table is written once. */
  private val Copied = Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id")
  private val Reference = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** `n` copies of `df` unioned, copy i's `idCol` salted by i × [[Salt]].
    * With `perturb`, copy i > 0 appends " c<i>" to the `text` column, so
    * exact-dup stages keep the copies as near-dups. */
  def copies(df: DataFrame, idCol: String, n: Int, perturb: Boolean = false): DataFrame =
    (0 until n).map { i =>
      val d = df.withColumn(idCol, col(idCol) + lit(i * Salt))
      if (perturb && i > 0) d.withColumn("text", concat(col("text"), lit(s" c$i")))
      else d
    }.reduce(_ union _)

  /** Writes an `n`× copy of the testdata dir `base` to `out`: documents,
    * embeddings and events as [[copies]], each written as 32 files, since
    * every table of a generated dir is one row group that a scan cannot
    * split. The other tables are written once, so reference joins keep
    * their semantics. `perturb` applies to document text: `Bench synth`'s
    * core-ratio inputs perturb it, the invariant check copies verbatim. */
  def writeCopies(spark: SparkSession, base: String, out: String, n: Int,
                  perturb: Boolean): Unit = {
    Copied.foreach { case (name, idCol) =>
      copies(spark.read.parquet(s"$base/$name.parquet"), idCol, n,
          perturb && name == "documents")
        .repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    Reference.foreach { name =>
      spark.read.parquet(s"$base/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
  }

  /** One query's check: build-and-cache seconds at 1× and N×, and why
    * the invariant failed, if it did. */
  final case class Outcome(name: String, secs1: Double, secsN: Double,
                           failure: Option[String])

  /** Runs each query of `checks` on `base` and on an `n`× verbatim copy
    * of it and checks the query's invariant. The copy, and every index a
    * query builds over it, live in one temp root that is removed when the
    * check ends, also when it fails. */
  def check(spark: SparkSession, base: String, n: Int,
            checks: Seq[(String, Invariant)]): Seq[Outcome] = {
    require(n >= 2, s"a scale check needs at least 2 copies: $n")
    val root = Files.createTempDirectory("graft_scale_")
    val nx = root.resolve(s"x$n").toString
    try {
      writeCopies(spark, base, nx, n, perturb = false)
      checks.map { case (name, inv) =>
        val fn = SparkEntry.queries(name)
        val (one, secs1) = cached(fn(spark, base))
        try {
          val (many, secsN) = cached(fn(spark, nx))
          try Outcome(name, secs1, secsN, holds(inv, n, one, many))
          finally many.unpersist()
        } finally one.unpersist()
      }
    } finally {
      dropIndexes(nx)
      Memo.invalidate(nx)
      FileUtils.deleteQuietly(root.toFile)
    }
  }

  /** The query's result, cached (every column computed), and the seconds
    * that building and caching it took. */
  private def cached(build: => DataFrame): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    val df = build.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    (df, (System.nanoTime() - t0) / 1e9)
  }

  /** None if the `n`× output `many` keeps `inv` against the 1× output
    * `one`, else what broke it. */
  private[graft] def holds(inv: Invariant, n: Int, one: DataFrame,
                           many: DataFrame): Option[String] = inv match {
    case Same => diff(one, many)
    case Replicated(ids @ _*) =>
      diff(Seq.fill(n)(one).reduce(_ union _),
        many.withColumns(ids.map(c => c -> col(c) % Salt).toMap))
    case Scaled(counts @ _*) =>
      // on the 6-decimal grid the oracles use, so a double sum divides
      // back exactly
      def per(df: DataFrame, by: Int) = df.withColumns(counts.map(c =>
        c -> round(col(c).cast("double") / by, 6)).toMap)
      diff(per(one, 1), per(many, n))
    case Rows(f) =>
      val (n1, got) = (one.count(), many.count())
      Option.when(got != f(n, n1))(s"$got rows at ${n}x, want ${f(n, n1)} from $n1 at 1x")
  }

  /** None if both frames hold the same rows, each as often. */
  private def diff(want: DataFrame, got: DataFrame): Option[String] = {
    val missing = want.exceptAll(got)
    val extra = got.exceptAll(want)
    val (nm, ne) = (missing.count(), extra.count())
    Option.when(nm + ne > 0)(s"$nm rows missing, e.g. ${missing.take(2).mkString(" ")}; " +
      s"$ne rows extra, e.g. ${extra.take(2).mkString(" ")}")
  }

  /** Deletes the index dirs the queries built over dataset dir `d`
    * ([[TextSimQueries.indexDir]], one per variant) and forgets their
    * memos. */
  private def dropIndexes(d: String): Unit = {
    val probe = new java.io.File(TextSimQueries.indexDir("", d))
    Option(probe.getParentFile.listFiles).toSeq.flatten
      .filter(_.getName.endsWith(probe.getName))
      .foreach { f => Memo.invalidate(f.getPath); FileUtils.deleteQuietly(f) }
  }
}
