package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.geo.GeoJson
import graft.io.Sinks
import graft.operators.{Dedup, DedupIndex, IvfPqIndex, Similarity}
import graft.sources.Tables
import graft.streaming.StreamMetrics

/** The paper's own analytics: queries from the SparkEntry aggregation,
  * join, predicate, sort, union, function and window families plus the
  * GeoJSON track and daily roll-up queries, then the user's reports
  * written through `graft.io.Sinks` at the end of each pass. */
final class GliderAnalytics extends Workload {
  val mix: Seq[String] = Seq(
    "q_a1_daily_stats", "q_a2_summaries", "q_a10_ymd_calendar",
    "q_a16_percentiles", "q_j1_join_enrich", "q_p12_time_slice",
    "q_f6_round_half_down", "q_w2_ordered_track", "q_g1_geojson_tracks",
    "q_st1_daily_rollup")

  private def reports(c: Ctx): Unit = {
    val dir = c.data
    val base = new File(c.out, "reports").getPath
    c.timed("io_csv_summary", "io") {
      val df = c.tracer.span("entry", "io_csv_summary")(
        SparkEntry.queries("q_a2_summaries")(c.spark, dir))
      c.tracer.span("io", "csv")(Sinks.csv(df, s"$base/summary_csv", single = true))
      c.tracer.add("io.bytes_written", Metrics.bytesUnder(s"$base/summary_csv"))
    }
    val tracks = c.tracer.span("entry", "tracks")(GeoJson.trackFeatureCollections(
      Tables.events(c.spark, dir).withColumn("lon", col("user_id").cast("double") / 100d),
      "event_type", "ts", "value", "lon"))
    c.timed("io_geojson_tracks", "io") {
      c.tracer.span("io", "geojson")(
        Sinks.geojsonTracks(tracks, "event_type", "geojson", s"$base/tracks_geojson"))
      c.tracer.add("io.bytes_written", Metrics.bytesUnder(s"$base/tracks_geojson"))
    }
    c.timed("io_kml_tracks", "io") {
      c.tracer.span("io", "kml")(
        Sinks.kml(tracks, "event_type", "geojson", s"$base/tracks.kml", "tracks"))
      c.tracer.add("io.bytes_written", new File(s"$base/tracks.kml").length())
    }
  }

  def pass(c: Ctx): Unit = {
    order(c, mix).foreach(c.query)
    reports(c)
  }

  def check(c: Ctx): Unit = {
    val base = new File(c.out, "reports")
    val summaryRows = SparkEntry.queries("q_a2_summaries")(c.spark, c.data).count()
    val csvLines = Option(new File(base, "summary_csv").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".csv"))
      .map(f => Files.readAllLines(f.toPath, UTF_8).size).sum
    c.check("io:csv_summary", csvLines == summaryRows + 1,
      s"csv has $csvLines lines for $summaryRows rows")
    val nTypes = Tables.events(c.spark, c.data).select("event_type").distinct().count()
    val geo = Option(new File(base, "tracks_geojson").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
    c.check("io:geojson_tracks", geo.size == nTypes &&
      geo.forall(_.contains("\"FeatureCollection\"")),
      s"${geo.size} GeoJSON lines for $nTypes tracks")
    val kml = new String(Files.readAllBytes(new File(base, "tracks.kml").toPath), UTF_8)
    c.check("io:kml_tracks", kml.contains("<kml") &&
      "<Placemark".r.findAllMatchIn(kml).size >= nTypes,
      s"KML document lacks one placemark per track")
  }
}

/** Text curation over documents with cold session memos in every pass:
  * the shingle chain (with the persisted dedup index built from it), the
  * quality battery, tokenizer training and a standalone heavy kernel. */
final class CurationCold extends Workload {
  val mix: Seq[String] = Seq(
    // the shingle chain; q_d10 builds and reads the persisted dedup index
    "q_d2_ngram_jaccard", "q_t21_hll_shingles", "q_d10_dedup_index",
    "q_t2_quality_score", // the quality battery
    "q_t27_bpe_train", "q_t28_bpe_encode", // tokenizer training
    "q_x2_pii_scrub") // a standalone heavy kernel

  private var root: Option[org.apache.spark.sql.SparkSession] = None

  /** A new session over the same context, with every cached RDD dropped:
    * the session memos are keyed by session, so they all start empty. */
  private def coldSession(c: Ctx): Unit = c.tracer.span("cache", "cold_session") {
    if (root.isEmpty) root = Some(c.spark)
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val s = root.get.newSession()
    graft.plans.GraftPlans.install(s)
    c.tracer.attach(s)
    c.spark = s
  }

  override def beforePass(c: Ctx): Unit = coldSession(c)

  def pass(c: Ctx): Unit = order(c, mix).foreach(c.query)

  def check(c: Ctx): Unit = ()
}
/** Writes next to reads on the persisted stores. For the dedup index and
  * the IVF-PQ index: a build, a seeded append epoch and a read, a delete
  * and a read, a compaction and a read. Then a streaming metrics store fed
  * one epoch per batch, with a replayed epoch and a compaction. */
final class IndexLifecycle extends Workload {

  /** The seed picks, by hash bucket of the id, which rows are built,
    * appended, probed (never indexed) and deleted (from the built rows). */
  private final case class Split(idCol: String, seed: Long) {
    private val b = pmod(xxhash64(col(idCol), lit(seed)), lit(100))
    val probe = b < 5
    val base = b >= 5 && b < 55
    val add = b >= 55
    val deleted = base && pmod(xxhash64(col(idCol), lit(seed + 1)), lit(10)) === 0
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def verdicts(df: DataFrame): DataFrame =
    df.select(col("id"), col("dropped_exact").cast("long").as("dropped_exact"),
      col("best_jaccard"), col("keep").cast("long").as("keep"))

  /** Each read's rows, collected right after its timed action and before
    * the next write, keyed by what preceded it. */
  private val reads = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
  private var tombstoned: Set[String] = Set.empty

  private def lifecycle(c: Ctx): Unit = {
    val spark = c.spark
    val record = c.pass >= 0
    val docs = Tables.documents(spark, c.data).select("doc_id", "text")
    val emb = Tables.embeddings(spark, c.data).select("vec_id", "embedding")
    val ds = Split("doc_id", c.seed)
    val vs = Split("vec_id", c.seed + 7)
    val store = new File(c.out, if (record) "store" else "store_warm").getAbsolutePath
    val dPath = s"$store/dedup"
    val vPath = s"$store/ivf"
    // the metrics store's applied-epoch memo is keyed by path, so each
    // pass starts a new store rather than deleting the old one under it
    val mPath = s"$store/metrics_${c.pass + 1}"
    val probe = docs.where(ds.probe)
    val queriesV = emb.where(vs.probe)
    val nCent = Similarity.suggestedCentroids(emb.where(!vs.probe).count())

    def read(tag: String, span: String)(run: => DataFrame): Unit = {
      var out: DataFrame = null
      c.timed(tag.takeWhile(_ != ':'), "read") {
        out = c.tracer.span("store", span)(run)
        c.materialize(out, span)
      }
      if (record && out != null) reads(tag) = sorted(out)
    }
    def storeOp(name: String, kind: String)(body: => Unit): Unit =
      c.timed(name, kind)(c.tracer.span("store", name)(body))
    def dedupRead(tag: String): Unit = read(s"dedup_read:$tag", "dedup.checkBatch")(
      verdicts(DedupIndex.checkBatch(probe, "doc_id", "text", dPath, minJaccard = 0.5)))
    def ivfRead(tag: String): Unit = read(s"ivf_search:$tag", "ivf.search")(
      IvfPqIndex.search(spark, vPath, queriesV, "vec_id", "embedding", k = 5, nProbe = 4)
        .select("query_id", "neighbor_id", "cosine", "rank"))

    storeOp("dedup_build", "build")(
      DedupIndex.build(docs.where(ds.base), "doc_id", "text", dPath, n = 3))
    storeOp("dedup_append", "append")(
      DedupIndex.append(docs.where(ds.add), "doc_id", "text", dPath))
    dedupRead("appended")
    storeOp("dedup_delete", "delete")(
      DedupIndex.delete(docs.where(ds.deleted), "doc_id", dPath))
    dedupRead("deleted")
    storeOp("dedup_compact", "compact")(DedupIndex.compact(spark, dPath))
    dedupRead("compacted")

    storeOp("ivf_build", "build")(IvfPqIndex.build(emb.where(vs.base), "vec_id",
      "embedding", vPath, nCentroids = nCent, m = 16, dim = 64, codebookSize = 16))
    storeOp("ivf_append", "append")(
      IvfPqIndex.append(emb.where(vs.add), "vec_id", "embedding", vPath))
    ivfRead("appended")
    storeOp("ivf_delete", "delete")(
      IvfPqIndex.delete(emb.where(vs.deleted), "vec_id", vPath))
    ivfRead("deleted")
    storeOp("ivf_compact", "compact")(IvfPqIndex.compact(spark, vPath))
    ivfRead("compacted")

    // streaming metrics store: an epoch per batch, each materializing the
    // cumulative grade it returns; a replay of the last epoch; a compaction
    val score = (pmod(hash(col("doc_id")), lit(1000)) / 1000.0).as("score")
    val label = pmod(hash(col("doc_id"), lit(7)), lit(2)).cast("long").as("y")
    val scored = docs.where(!ds.probe).select(col("doc_id"), ds.add.as("add"), score, label)
    val batches = Seq(scored.where(!col("add")), scored.where(col("add")))
    Option(new File(s"$store/metrics_${c.pass}")).filter(_.exists()).foreach(deleteTree)
    def grade(tag: String)(g: => DataFrame): Unit =
      read(s"metrics_epoch:$tag", "metrics.grade")(c.tracer.span("streaming", tag)(g))
    batches.zipWithIndex.foreach { case (b, e) =>
      if (record) c.tracer.add("streaming.rows_in", b.count())
      grade(s"epoch$e")(StreamMetrics.processEpoch(b, e.toLong, col("score"), col("y"), mPath))
    }
    grade("replay")(StreamMetrics.processEpoch(batches.last, 1L, col("score"), col("y"), mPath))
    storeOp("metrics_compact", "compact")(StreamMetrics.compact(spark, mPath))
    grade("compacted")(StreamMetrics.grade(spark, mPath))

    if (record && c.pass == 0) {
      // untimed references for the checks, from the same inputs
      def expected(corpus: DataFrame) = sorted(verdicts(
        Dedup.dedupAgainstCorpus(probe, corpus, "doc_id", "text", 3, 0.5)))
      reads("expected:appended") = expected(docs.where(ds.base || ds.add))
      reads("expected:deleted") = expected(docs.where((ds.base || ds.add) && !ds.deleted))
      tombstoned = emb.where(vs.deleted).select("vec_id").collect().map(_.get(0).toString).toSet
      c.extra("index_input_bytes") =
        docs.where(!ds.probe).select(sum(length(col("text")) + 8)).head().getLong(0) +
          emb.where(!vs.probe).count() * (64L * 4 + 8)
    }
    if (record)
      c.extra(s"index_bytes_after_compact.${c.pass}") =
        (Metrics.bytesUnder(dPath) + Metrics.bytesUnder(vPath)).toDouble
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def pass(c: Ctx): Unit = {
    reads.filterInPlace((k, _) => k.startsWith("expected:"))
    lifecycle(c)
    if (c.pass >= 0) checkPass(c)
  }

  /** The invariants of one pass (untimed). */
  private def checkPass(c: Ctx): Unit = {
    val p = c.pass
    def same(a: String, b: String) = reads.contains(a) && reads.get(a) == reads.get(b)
    c.check(s"dedup:first_read_equals_dedupAgainstCorpus:$p",
      same("dedup_read:appended", "expected:appended"), "first checkBatch differs")
    c.check(s"dedup:deleted_ids_excluded:$p",
      same("dedup_read:deleted", "expected:deleted"), "read after delete differs")
    c.check(s"dedup:compact_preserves_reads:$p",
      same("dedup_read:compacted", "dedup_read:deleted"), "read after compact differs")
    c.check(s"ivf:compact_preserves_reads:$p",
      same("ivf_search:compacted", "ivf_search:deleted"), "search after compact differs")
    c.check(s"ivf:no_tombstoned_ids:$p",
      Seq("ivf_search:deleted", "ivf_search:compacted").forall(t =>
        reads.get(t).exists(_.forall(r => !tombstoned.contains(r.split('|')(1))))),
      "a deleted vector was returned")
    c.check(s"metrics:replay_is_noop:$p",
      same("metrics_epoch:replay", "metrics_epoch:epoch1"), "replay changed the grade")
    c.check(s"metrics:compact_preserves_grade:$p",
      same("metrics_epoch:compacted", "metrics_epoch:replay"), "grade after compact differs")
  }

  def check(c: Ctx): Unit = ()
}
