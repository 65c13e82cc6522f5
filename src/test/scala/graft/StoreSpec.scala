package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.FaultyFs.{ArtifactCommit, ManifestRename}
import graft.operators.{DedupIndex, IvfPqIndex}
import graft.streaming.StreamMetrics

/** The store commit protocol under injected faults: every store
  * operation, crashed at each of its artifact commits and at its
  * manifest rename, leaves the old version or the new one, and a retry
  * equals one clean apply. */
class StoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  FaultyFs.register(spark)

  private def tmp(tag: String): String =
    FaultyFs.path(Files.createTempDirectory(s"graft_store_$tag").toString)

  private def copyOf(path: String, tag: String): String = {
    val dst = tmp(tag)
    FileUtils.copyDirectory(new File(FaultyFs.local(path)),
      new File(FaultyFs.local(dst)))
    dst
  }

  /** Every table of the store row for row, with its applied epoch and
    * meta; None when nothing is committed. */
  private def snapshot(path: String) =
    Store.current(spark, path).map { m =>
      (m.epoch, m.meta, m.tables.keySet.map(t =>
        t -> m.read(spark, t).collect().map(_.toString).sorted.toSeq
      ).toMap)
    }

  /** Runs `op` on copies of the store `fixture` builds: once cleanly (the
    * new state), then with a fault at each artifact commit it reaches
    * and at its manifest rename. */
  private def crashAnywhere(name: String, fixture: String => Unit)
                           (op: String => Unit): Unit = {
    val proto = tmp(name)
    fixture(proto)
    val old = snapshot(proto)
    val clean = copyOf(proto, name)
    val reached = FaultyFs.run(None)(op(clean))
    val fresh = snapshot(clean)
    assert(fresh != old, s"$name: sanity, the operation changes the store")
    val commits = reached.getOrElse(ArtifactCommit, 0)
    assert(commits > 0 && reached.get(ManifestRename).contains(1), s"$name: $reached")
    ((1 to commits).map(ArtifactCommit -> _) :+ (ManifestRename -> 1)).foreach { f =>
      val dir = copyOf(proto, name)
      intercept[Exception](FaultyFs.run(Some(f))(op(dir)))
      val seen = snapshot(dir)
      assert(seen == old || seen == fresh, s"$name: fault at $f left a mixed store")
      op(dir)
      assert(snapshot(dir) == fresh, s"$name: the retry after a fault at $f " +
        "differs from one clean apply")
    }
    assert(jobsSubmitted(Store.current(spark, proto)) == 0)
  }

  private val texts = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "fresh words about spark shuffles and broadcast joins",
    3L -> "another new document covering parquet pruning stats",
    4L -> "a fourth text on skew salts and adaptive query plans",
    5L -> "yet another doc about dedup indexes and bloom gates")
  private def docs(ids: Long*): DataFrame =
    texts.filter(t => ids.contains(t._1)).toDF("doc_id", "text")

  test("DedupIndex: a fault at any artifact commit or the manifest rename " +
    "of build, append, appendEpoch, delete and compact leaves the old or " +
    "the new index; the retry equals one clean apply") {
    def build(p: String, ids: Long*): Unit =
      DedupIndex.build(docs(ids: _*), "doc_id", "text", p, n = 3,
        bloomBits = 1024)
    // a double-appended id and a tombstone, so a partial compact shows
    def fixture(p: String): Unit = {
      build(p, 1, 2, 3)
      DedupIndex.append(docs(2), "doc_id", "text", p)
      DedupIndex.delete(Seq(3L).toDF("doc_id"), "doc_id", p)
    }
    crashAnywhere("dedup_build", fixture)(build(_, 1, 4))
    crashAnywhere("dedup_append", fixture)(
      DedupIndex.append(docs(4, 5), "doc_id", "text", _))
    crashAnywhere("dedup_appendEpoch", fixture)(
      DedupIndex.appendEpoch(docs(4, 5), "doc_id", "text", _, 0L))
    crashAnywhere("dedup_delete", fixture)(
      DedupIndex.delete(Seq(1L).toDF("doc_id"), "doc_id", _))
    crashAnywhere("dedup_compact", fixture)(DedupIndex.compact(spark, _))
  }

  private def emb: DataFrame =
    spark.read.parquet(s"$Sf0001/embeddings.parquet").select("vec_id", "embedding")

  private def ivfBuild(p: String, corpus: DataFrame): Unit =
    IvfPqIndex.build(corpus, "vec_id", "embedding", p, nCentroids = 4, m = 4,
      dim = 64, codebookSize = 4)

  test("IvfPqIndex: a fault at any artifact commit or the manifest rename " +
    "of build, append, delete and compact leaves the old or the new " +
    "index; the retry equals one clean apply") {
    def fixture(p: String): Unit = {
      ivfBuild(p, emb.where(col("vec_id").between(100, 299)))
      IvfPqIndex.delete(emb.where(col("vec_id").between(150, 154)), "vec_id", p)
    }
    crashAnywhere("ivf_build", fixture)(
      ivfBuild(_, emb.where(col("vec_id").between(200, 399))))
    crashAnywhere("ivf_append", fixture)(
      IvfPqIndex.append(emb.where(col("vec_id") < 20), "vec_id", "embedding", _))
    crashAnywhere("ivf_delete", fixture)(
      IvfPqIndex.delete(emb.where(col("vec_id").between(100, 109)), "vec_id", _))
    crashAnywhere("ivf_compact", fixture)(IvfPqIndex.compact(spark, _))
  }

  // epochs 0 and 1 share a score, so a compaction merges rows
  private val epochs = Seq(
    Seq((0.9, 1L), (0.2, 0L)), Seq((0.9, 0L), (0.4, 1L)),
    Seq((0.7, 1L), (0.7, 0L)))
  private def feed(p: String, e: Int): DataFrame =
    StreamMetrics.processEpoch(epochs(e).toDF("score", "y"), e.toLong,
      col("score"), col("y"), p)

  test("StreamMetrics: a fault at any artifact commit or the manifest " +
    "rename of processEpoch and compact leaves the old or the new store; " +
    "the retry equals one clean apply") {
    def fixture(p: String): Unit = { feed(p, 0); feed(p, 1); () }
    crashAnywhere("metrics_epoch", fixture)(feed(_, 2))
    crashAnywhere("metrics_compact", fixture)(StreamMetrics.compact(spark, _))
  }

  test("a store deleted and fed again from epoch 0 grades like a fresh " +
    "store: no memo outlives its commit") {
    def grade(df: DataFrame) = df.collect().map(_.toString).toSeq
    val dir = tmp("refed")
    feed(dir, 0); feed(dir, 1)
    FileUtils.deleteDirectory(new File(FaultyFs.local(dir)))
    assert(grade(feed(dir, 0)) == grade(feed(tmp("fresh"), 0)))
  }

  test("an IVF-PQ index replaced by a plain file copy of another serves " +
    "the copy") {
    def search(p: String) =
      IvfPqIndex.search(spark, p, emb.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, nProbe = 2).collect().map(_.toString).toSet
    val a = tmp("ivf_a"); val b = tmp("ivf_b")
    ivfBuild(a, emb.where(col("vec_id") < 250))
    ivfBuild(b, emb.where(col("vec_id") >= 250))
    val fromA = search(a)
    val fromB = search(b)
    assert(fromA != fromB, "sanity: the two indexes answer differently")
    FileUtils.deleteDirectory(new File(FaultyFs.local(a)))
    FileUtils.copyDirectory(new File(FaultyFs.local(b)), new File(FaultyFs.local(a)))
    assert(search(a) == fromB)
  }

  test("every table of a DedupIndex, IvfPqIndex and StreamMetrics store " +
    "reads with its recorded schema: no Spark job, the inferred schema") {
    val dedup = tmp("schema_dedup")
    DedupIndex.build(docs(1, 2, 3), "doc_id", "text", dedup, n = 3, bloomBits = 1024)
    DedupIndex.appendEpoch(docs(4), "doc_id", "text", dedup, 0L)
    DedupIndex.delete(Seq(3L).toDF("doc_id"), "doc_id", dedup)
    val ivf = tmp("schema_ivf")
    ivfBuild(ivf, emb.where(col("vec_id") < 200))
    IvfPqIndex.append(emb.where(col("vec_id").between(200, 219)), "vec_id", "embedding", ivf)
    IvfPqIndex.delete(emb.where(col("vec_id") < 5), "vec_id", ivf)
    val metrics = tmp("schema_metrics")
    feed(metrics, 0); feed(metrics, 1)
    val tables = for {
      p <- Seq(dedup, ivf, metrics); m = Store.latest(spark, p); t <- m.tables.keySet.toSeq
    } yield {
      var read: DataFrame = null
      assert(jobsSubmitted { read = m.read(spark, t) } == 0, s"$p: $t")
      // the codes' partition column is read at the centroids table's type
      val inferred = m.dirs(t).map(spark.read.parquet(_)).reduce(_ union _).schema.map(f =>
        if (t == "codes" && f.name == "centroid_id")
          f.copy(dataType = m.read(spark, "centroids").schema("centroid_id").dataType)
        else f)
      assert(read.schema.fields.toSeq == inferred, s"$p: $t")
      t
    }
    assert(tables.toSet == Set("shingles", "counts", "fps", "bloom", "tombstones",
      "codes", "centroids", "codebook", "hist"))
  }

  test("a path holding files but no manifest is an error naming the path; " +
    "an unpublished attempt reads as no store") {
    val legacy = tmp("legacy")
    Seq((0.5, 1L, 0L)).toDF("score", "n_pos", "n_neg")
      .write.parquet(s"$legacy/hist")
    val e = intercept[IllegalArgumentException](StreamMetrics.grade(spark, legacy))
    assert(e.getMessage.contains(FaultyFs.local(legacy)) &&
      e.getMessage.contains("no store manifest"), e.getMessage)
    val crashed = tmp("unpublished")
    intercept[Exception](FaultyFs.run(Some(ManifestRename -> 1))(feed(crashed, 0)))
    assert(Store.current(spark, crashed).isEmpty)
    feed(crashed, 0)
    assert(StoreFiles.unreferenced(spark, crashed).isEmpty,
      "the next commit removes the crashed attempt")
  }

  test("a manifest that records no table schemas is an error naming the " +
    "path, also for a rebuild") {
    val old = tmp("no_schemas")
    feed(old, 0)
    val manifest = new File(FaultyFs.local(old), "_manifest").listFiles()
      .filter(_.getName.forall(_.isDigit)).head
    val json = org.json4s.jackson.JsonMethods.parse(
      FileUtils.readFileToString(manifest, "UTF-8"))
    FileUtils.writeStringToFile(manifest, org.json4s.jackson.JsonMethods.compact(
      json.removeField { case (k, _) => k == "schemas" || k == "partitionBy" }), "UTF-8")
    new File(manifest.getParent, s".${manifest.getName}.crc").delete()
    for (op <- Seq[() => Any](() => StreamMetrics.grade(spark, old), () => feed(old, 1))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains(FaultyFs.local(old)) &&
        e.getMessage.contains("no table schemas"), e.getMessage)
    }
  }
}

/** Reads and layout probes over a store's files on the local filesystem. */
object StoreFiles {

  /** The parquet data files under `dirs`. */
  def parquetFiles(dirs: Seq[String]): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    dirs.map(d => walk(new File(FaultyFs.local(d)))).sum
  }

  /** The manifests and attempt directories of the store at `path` that
    * its latest manifest does not reference. */
  def unreferenced(spark: org.apache.spark.sql.SparkSession,
                   path: String): Seq[String] = {
    val m = Store.latest(spark, path)
    val live = m.tables.values.flatten.map(_.dir.split('/')(1)).toSet +
      m.version.toString
    def names(sub: String): Seq[String] =
      Option(new File(FaultyFs.local(path), sub).listFiles()).toSeq.flatten
        .map(_.getName).filterNot(n => n.startsWith(".") || live(n))
        .map(n => s"$sub/$n")
    names("data") ++ names("_manifest")
  }
}
