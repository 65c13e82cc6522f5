package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextStats
import graft.streaming.StreamGate

class StreamGateSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def mkBatch(rows: Seq[(Long, String, Double)]): DataFrame =
    rows.toDF("id", "grp", "q")

  // three epochs of scored rows, engineered with threshold-moving ties
  private val epochs = Seq(
    Seq((1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.5), (4L, "b", 0.2),
      (5L, "b", 0.8)),
    Seq((6L, "a", 0.7), (7L, "b", 0.8), (8L, "b", 0.1), (9L, "a", 0.5)),
    Seq((10L, "a", 0.95), (11L, "b", 0.3), (12L, "b", 0.6), (13L, "a", 0.4)))

  private def gateMap(df: DataFrame): Map[Long, (Double, Boolean)] =
    df.select("id", "threshold", "kept").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap

  test("per-epoch thresholds == batch percentileGate over the rows seen; " +
    "gated flags identical on the accumulated corpus; replay no-ops") {
    val path = java.nio.file.Files.createTempDirectory("graft_sgate").toString
    var seen: DataFrame = null
    epochs.zipWithIndex.foreach { case (rows, e) =>
      val batch = mkBatch(rows)
      StreamGate.processEpoch(batch, e.toLong, "grp", col("q"), 0.5, path)
      seen = if (seen == null) batch else seen.unionAll(batch)
      // thresholds from the store == batch gate on the accumulated corpus
      val fromStore = StreamGate.thresholds(spark, path, 0.5)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val fromBatch = TextStats.percentileGate(seen, "grp", col("q"), 0.5)
        .select("grp", "threshold").distinct()
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(fromStore == fromBatch, s"epoch $e: $fromStore vs $fromBatch")
      // and the gated flags on the accumulated corpus match row for row
      val g1 = gateMap(StreamGate.gate(seen, "grp", col("q"),
        StreamGate.thresholds(spark, path, 0.5)))
      val g2 = gateMap(TextStats.percentileGate(seen, "grp", col("q"), 0.5))
      assert(g1 == g2, s"epoch $e: $g1 vs $g2")
    }
    // crash-replay: re-running an old epoch must not move any threshold
    val before = StreamGate.thresholds(spark, path, 0.5).collect().toSeq
    StreamGate.processEpoch(mkBatch(epochs(1)), 1L, "grp", col("q"), 0.5,
      path)
    val after = StreamGate.thresholds(spark, path, 0.5).collect().toSeq
    assert(before.toSet == after.toSet, "replayed epoch must no-op")
  }

  test("bucketThresholds from the store == rankBuckets on the accumulated " +
    "corpus; compact preserves both gates and shrinks the store") {
    val path = java.nio.file.Files.createTempDirectory("graft_sgate2").toString
    epochs.zipWithIndex.foreach { case (rows, e) =>
      StreamGate.processEpoch(mkBatch(rows), e.toLong, "grp", col("q"),
        0.5, path)
    }
    val all = mkBatch(epochs.flatten)
    val fracs = Seq(1.0 / 3, 2.0 / 3)
    def bucketMap(df: DataFrame): Map[Long, Long] =
      df.select("id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromStore = bucketMap(StreamGate.buckets(all, "grp", col("q"),
      StreamGate.bucketThresholds(spark, path, fracs), fracs))
    val fromBatch = bucketMap(
      TextStats.rankBuckets(all, "grp", col("q"), fracs))
    assert(fromStore == fromBatch, s"$fromStore vs $fromBatch")
    val thrBefore = StreamGate.thresholds(spark, path, 0.5).collect().toSet
    def files() = StoreFiles.parquetFiles(Store.latest(spark, path).dirs("hist"))
    val filesBefore = files()
    StreamGate.compact(spark, path)
    val filesAfter = files()
    assert(filesAfter < filesBefore && filesAfter == 1,
      s"compact must fold shards: $filesBefore -> $filesAfter")
    assert(StreamGate.thresholds(spark, path, 0.5).collect().toSet ==
      thrBefore, "compact must not move thresholds")
    assert(bucketMap(StreamGate.buckets(all, "grp", col("q"),
      StreamGate.bucketThresholds(spark, path, fracs), fracs)) == fromBatch)
  }

  test("foreachBatch writer: streamed epochs gate == batch gate on the " +
    "accumulated corpus (stream==batch, the X57 twin contract)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_sgate3").toString
    val mem = MemoryStream[(Long, String, Double)]
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Map[Long, (Double, Boolean)])]
    val q = StreamGate.writer(mem.toDF().toDF("id", "grp", "q"), "grp",
        col("q"), 0.5, path) { (gated, epoch) =>
        acc += epoch -> gateMap(gated)
      }
      .outputMode("update").start()
    try {
      epochs.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(acc.size == epochs.size)
    // the LAST epoch's batch was gated at all-corpus thresholds: its
    // flags must equal percentileGate(all corpus) restricted to it
    val all = mkBatch(epochs.flatten)
    val batchAll = gateMap(
      TextStats.percentileGate(all, "grp", col("q"), 0.5))
    val lastIds = epochs.last.map(_._1).toSet
    val streamedLast = acc.last._2
    assert(streamedLast == batchAll.view.filterKeys(lastIds).toMap,
      s"$streamedLast vs $batchAll")
  }
}
