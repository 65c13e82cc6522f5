package graft

import org.apache.spark.sql.SparkSession

/** The library's RECOMMENDED SparkSession configuration — one place, so
  * the configuration the bench measures is the configuration every
  * harness (and any production caller that wants the measured behavior)
  * actually runs. Round-14 measured both engine configs on a 15-query
  * mid-cost slice with per-config attribution (−8.3 % / −2.9 %, no
  * regressions beyond fork noise); round-15 ships them as the single
  * shared builder the VERDICT asked for, instead of per-main copies that
  * can drift.
  */
object GraftSession {

  /** Engine configs that are scale-INDEPENDENT recommendations (guide
    * §2.2/§3.1/§9), applied to any caller-supplied builder:
    *
    *   - `adaptive.enabled`: AQE on (default since 3.2; stated so a
    *     caller with a stripped-down conf still gets it — every operator
    *     in this package leans on AQE coalescing/skew handling).
    *   - `coalescePartitions.parallelismFirst=false`: post-shuffle
    *     partitions coalesce to the ADVISORY SIZE (64 MiB default)
    *     instead of stopping early to preserve parallelism — the
    *     Spark-docs-recommended setting at any scale (fewer, larger
    *     reduce partitions; at 100 TB the advisory size governs, locally
    *     tiny shuffles fold to one task).
    *   - `preferSortMergeJoin=false`: the planner may pick shuffled-hash
    *     over sort-merge when its size bounds hold (skips both sorts;
    *     AQE skew splitting applies to SHJ too).
    *   - session time zone UTC: the package's oracle-parity convention
    *     (naive timestamps compare as wall-clock).
    *   - the codegen settings of [[codegenReuse]]. A caller that adds
    *     per-session artifacts (jars, files, classes) should not apply
    *     this builder as is: it turns artifact isolation off.
    *   - the physical plan rules of [[graft.plans.GraftPlans.extensions]],
    *     kept by every `newSession()`: [[graft.plans.SmallSortExchange]]
    *     sorts an input estimated at or below the advisory partition size
    *     in one partition, skipping the range exchange's sampling job and
    *     its second evaluation of the sort's input. The threshold is the
    *     advisory size because `parallelismFirst=false` coalesces such a
    *     shuffle into one partition anyway, so the result's partitioning
    *     does not change.
    */
  def recommended(b: SparkSession.Builder): SparkSession.Builder = codegenReuse(b)
    .withExtensions(graft.plans.GraftPlans.extensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.join.preferSortMergeJoin", "false")

  /** Codegen settings that let a warm JVM compile each generated class
    * once, also across `newSession()`. Spark caches compiled classes
    * JVM-wide in an LRU keyed by (classloader, generated code):
    *
    *   - `artifact.isolation.enabled=false`: with isolation on (the
    *     default) every session gets its own executor classloader, so a
    *     new session compiles every executor-side class again. This
    *     library adds no per-session artifacts, so one shared classloader
    *     loses nothing.
    *   - `codegen.cache.maxEntries=256`: the default LRU holds 100
    *     entries, fewer than one pass of either benchmark mix compiles, so
    *     each class was evicted before its next use. curation_cold, the
    *     larger mix, compiles about 190 classes in its first pass and
    *     meets some 25 order-dependent plan variants over a run; at 192
    *     entries it still recompiled 10–28 classes per pass, at 224 none.
    *     256 leaves headroom for the cache's four independently evicting
    *     segments; glider_analytics (115 classes) fits in 128. A static
    *     conf: only the builder that starts the JVM's first session sets
    *     it.
    *   - `codegen.useIdInClassName=false`: by default a whole-stage class
    *     is named after its codegen stage id, and adaptive execution
    *     numbers stages in the order their inputs finish. The same
    *     pipeline then compiles again whenever a run meets a new order:
    *     `TextStats.repetitionStats` recompiled 6 classes in a new
    *     session in 3 of 6 runs of CodegenReuseSpec, and in 0 of 9 with
    *     the id left out of the name.
    *
    * Either alone is not enough: on curation_cold, isolation off with 100
    * entries still recompiled 99–140 classes per pass, and 4096 entries
    * with isolation on 96–103. Compiles per warm benchmark pass (Spark's
    * `CodegenMetrics`): glider_analytics 51–67 → 0, curation_cold 149–158
    * → a median of 4 (0–10: plan variants a run meets for the first time,
    * each compiled once).
    *
    * The test session applies this too, so specs run under the codegen
    * settings the benchmark measures. */
  def codegenReuse(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "256")
    .config("spark.sql.codegen.useIdInClassName", "false")

  /** The harness session that `graft.Verify` and every `graft.Bench`
    * subcommand run: [[recommended]] plus the LOCAL-HARNESS bits that a
    * production caller would own instead — `local[cpus]` master with
    * `shuffle.partitions = cpus` (the driver's scaling contract:
    * $SPARK_GRAFT_CPUS governs both), the legacy nanos flag for the
    * older testdata generation's TIMESTAMP(NANOS) parquet, and no UI. */
  def local(cpus: String): SparkSession = {
    val spark = recommended(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftPlans.install(spark)
    spark
  }
}
