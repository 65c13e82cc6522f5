package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Metrics
import graft.streaming.StreamMetrics

class StreamMetricsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_smetrics_$tag").toString

  private type Grade = (Long, Long, Double, Long, Double, Double)
  private def gradeRow(df: org.apache.spark.sql.DataFrame): Grade = {
    val r = df.collect().head
    (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"), r.getAs[Double]("auc"),
      r.getAs[Long]("n"), r.getAs[Double]("ece"), r.getAs[Double]("mce"))
  }
  private def batchGrade(rows: Seq[(Double, Long)]): Grade = {
    val df = rows.toDF("score", "y")
    gradeRow(Metrics.auc(df, col("score"), col("y"))
      .crossJoin(broadcast(Metrics.ece(df, col("score"), col("y")))))
  }

  test("per-epoch cumulative grade == batch grade over the rows seen; " +
    "replayed epoch never double-counts") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("twin")
    val e1 = Seq((0.9, 1L), (0.2, 0L), (0.7, 1L), (0.7, 0L))
    val e2 = Seq((0.4, 0L), (0.95, 1L), (0.7, 1L)) // re-hits the 0.7 bin
    val mem = MemoryStream[(Double, Long)]
    val grades = scala.collection.mutable.Map[Long, Grade]()
    val q = StreamMetrics.writer(mem.toDS().toDF("score", "y"),
        col("score"), col("y"), dir) { (g, epoch) =>
      grades(epoch) = gradeRow(g); ()
    }.start()
    try {
      mem.addData(e1); q.processAllAvailable()
      mem.addData(e2); q.processAllAvailable()
    } finally q.stop()
    val byEpoch = grades.toSeq.sortBy(_._1).map(_._2)
    assert(byEpoch == Seq(batchGrade(e1), batchGrade(e1 ++ e2)),
      s"$byEpoch")
    // replay guard: re-processing the last epoch must change nothing
    val replayed = gradeRow(StreamMetrics.processEpoch(
      e2.toDF("score", "y"), 1L, col("score"), col("y"), dir))
    assert(replayed == batchGrade(e1 ++ e2), s"$replayed")
    // the store grades without any stream running (shared batch lane)
    assert(gradeRow(StreamMetrics.grade(spark, dir)) ==
      batchGrade(e1 ++ e2))
  }

  test("compactEvery folds the store in-loop: grade identical to the " +
    "never-compacted store, file count bounded, replay still no-ops") {
    val dir = tmp("autoc")
    val ref = tmp("autoc_ref")
    val epochs = Seq(
      Seq((0.9, 1L), (0.2, 0L)), Seq((0.4, 0L), (0.95, 1L)),
      Seq((0.7, 1L), (0.7, 0L)), Seq((0.6, 1L), (0.1, 0L)))
    epochs.zipWithIndex.foreach { case (rows, e) =>
      StreamMetrics.processEpoch(rows.toDF("score", "y"), e.toLong,
        col("score"), col("y"), dir, compactEvery = 2)
      StreamMetrics.processEpoch(rows.toDF("score", "y"), e.toLong,
        col("score"), col("y"), ref)
    }
    assert(gradeRow(StreamMetrics.grade(spark, dir)) ==
      gradeRow(StreamMetrics.grade(spark, ref)),
      "in-loop compaction must not change the grade")
    assert(gradeRow(StreamMetrics.grade(spark, dir)) ==
      batchGrade(epochs.flatten))
    // boundary compact ran after epochs 1 and 3 → the store is ONE
    // compacted shard (epoch 3 was the last boundary)
    assert(histFiles(dir) == 1,
      s"store must be folded at the boundary: ${histFiles(dir)} files")
    // a replayed folded epoch still no-ops at the applied epoch
    val replayed = gradeRow(StreamMetrics.processEpoch(
      epochs(1).toDF("score", "y"), 1L, col("score"), col("y"), dir,
      compactEvery = 2))
    assert(replayed == batchGrade(epochs.flatten), s"$replayed")
  }

  private def histFiles(dir: String): Int =
    StoreFiles.parquetFiles(Store.latest(spark, dir).dirs("hist"))

  /** Epoch `epoch` of `rows` crashed after its histogram artifact landed
    * and before its manifest published. */
  private def crashedEpoch(rows: Seq[(Double, Long)], epoch: Long,
                           dir: String): Unit =
    intercept[java.io.IOException] {
      FaultyFs.run(Some(FaultyFs.ManifestRename -> 1))(
        StreamMetrics.processEpoch(rows.toDF("score", "y"), epoch,
          col("score"), col("y"), dir))
    }

  test("crash between hist append and marker + replay never double-counts; " +
    "compact folds shards to O(1) files with the grade unchanged") {
    FaultyFs.register(spark)
    val dir = FaultyFs.path(tmp("compact"))
    val e1 = Seq((0.9, 1L), (0.2, 0L), (0.7, 1L))
    val e2 = Seq((0.4, 0L), (0.95, 1L), (0.7, 0L))
    StreamMetrics.processEpoch(e1.toDF("score", "y"), 0L,
      col("score"), col("y"), dir)
    // the crash window: epoch 1's hist artifact lands, the manifest that
    // would publish it and its applied epoch does not
    crashedEpoch(e2, 1L, dir)
    assert(gradeRow(StreamMetrics.grade(spark, dir)) == batchGrade(e1))
    // the foreachBatch replay re-runs epoch 1: it applies exactly once
    val g = gradeRow(StreamMetrics.processEpoch(
      e2.toDF("score", "y"), 1L, col("score"), col("y"), dir))
    assert(g == batchGrade(e1 ++ e2), s"$g")
    // compact: grade unchanged, shard fan-out collapses to one file
    StreamMetrics.compact(spark, dir)
    assert(gradeRow(StreamMetrics.grade(spark, dir)) == batchGrade(e1 ++ e2))
    assert(histFiles(dir) == 1, s"${histFiles(dir)} parquet files after compact")
    // a replayed epoch AFTER compaction still no-ops at the applied epoch
    val replayed = gradeRow(StreamMetrics.processEpoch(
      e2.toDF("score", "y"), 1L, col("score"), col("y"), dir))
    assert(replayed == batchGrade(e1 ++ e2), s"$replayed")
  }

  test("compact after a crashed epoch keeps the epoch unapplied: the " +
    "later replay applies it exactly once") {
    FaultyFs.register(spark)
    val dir = FaultyFs.path(tmp("seal"))
    val e1 = Seq((0.9, 1L), (0.2, 0L))
    val e2 = Seq((0.4, 0L), (0.95, 1L))
    StreamMetrics.processEpoch(e1.toDF("score", "y"), 0L,
      col("score"), col("y"), dir)
    crashedEpoch(e2, 1L, dir)
    // compact runs BEFORE the replay: it folds only what was published
    StreamMetrics.compact(spark, dir)
    assert(gradeRow(StreamMetrics.grade(spark, dir)) == batchGrade(e1))
    val replayed = gradeRow(StreamMetrics.processEpoch(
      e2.toDF("score", "y"), 1L, col("score"), col("y"), dir))
    assert(replayed == batchGrade(e1 ++ e2),
      s"post-compact replay double-counted: $replayed")
    assert(gradeRow(StreamMetrics.grade(spark, dir)) == batchGrade(e1 ++ e2))
  }
}
