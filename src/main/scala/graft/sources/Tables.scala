package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided synthetic parquet tables
  * (see /root/repo/TESTDATA.md). One parquet file per table under
  * `<sfDir>/<name>.parquet`.
  *
  * At 100 TB these would be partitioned parquet/iceberg table roots; the
  * API shape (path -> DataFrame, lazily planned, full predicate/projection
  * pushdown via the parquet DSv2 source) is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-plan memo: `spark.read.parquet` re-lists the path and
    * re-reads footers to re-infer the schema on EVERY call, and a
    * 173-query bench pass calls these loaders several hundred times.
    * The memo returns the same analyzed DataFrame (an immutable plan —
    * no data is cached, scans still read the files every execution),
    * so path listing + schema inference happen once per (session, dir,
    * table). Keyed by the SESSION INSTANCE (not identityHashCode, which
    * can collide after a stopped session is GC'd — ADVICE r14), with
    * stopped sessions purged on access, matching the
    * TextSimQueries.shingleCache discipline. */
  private val resolved = scala.collection.concurrent.TrieMap
    .empty[SparkSession, scala.collection.concurrent.TrieMap[(String, String), DataFrame]]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    resolved.keySet.foreach { s =>
      if (s.sparkContext.isStopped) resolved.remove(s)
    }
    resolved
      .getOrElseUpdate(spark,
        scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
      .getOrElseUpdate((sfDir, name),
        spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  /** `events.ts` arrives in one of two generations of the driver's
    * testdata: parquet TIMESTAMP(NANOS) (readable only with
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * `GraftSession.local` and the test session — converted ns→µs with
    * integer `div`, since ns-since-epoch exceeds double's exact range), or
    * plain naive `timestamp[us]`, which
    * Spark 4 reads as TIMESTAMP_NTZ and which passes through untouched so
    * `ts` predicates stay plain column comparisons the parquet scan can
    * prune on. Sessions run with `spark.sql.session.timeZone=UTC`, so
    * NTZ wall-clock == the DuckDB oracle's naive-timestamp epoch; callers
    * needing epoch extraction cast to TIMESTAMP first (no-op for LTZ,
    * UTC reinterpretation for NTZ — see `Sessions.epochUs`). */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = table(spark, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  private val lastRegistered = scala.collection.concurrent.TrieMap
    .empty[SparkSession, String]

  /** Register all tables of a scale-factor dir as temp views, so
    * `spark.sql` queries (scalar subqueries, etc.) can reference them by
    * the same names the DuckDB oracle uses. Idempotent per (session, dir):
    * repeated calls with the same dir skip the re-registration; a dir
    * change re-registers everything. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    lastRegistered.keySet.foreach { s =>
      if (s.sparkContext.isStopped) lastRegistered.remove(s)
    }
    if (!lastRegistered.put(spark, sfDir).contains(sfDir)) {
      names.foreach { n =>
        val df = if (n == "events") events(spark, sfDir) else table(spark, sfDir, n)
        df.createOrReplaceTempView(n)
      }
    }
  }
}
