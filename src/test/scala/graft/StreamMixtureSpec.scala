package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling
import graft.streaming.StreamMixture

class StreamMixtureSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // three epochs; domain C only ever appears in the LAST epoch (the
  // universe rows must renormalize it with lambda = 0 until then is moot
  // — it must simply show up in the trajectory once seen, like the batch
  // operator run on the accumulated corpus)
  private val epochs = Seq(
    (1L to 40L).map(i => (i, if (i % 2 == 0) "A" else "B", 0.1 + (i % 7) * 0.1)),
    (41L to 80L).map(i => (i, if (i % 3 == 0) "A" else "B", 0.05 + (i % 5) * 0.2)),
    (81L to 120L).map(i =>
      (i, if (i % 4 == 0) "C" else "A", 0.3 + (i % 3) * 0.15)))

  private def mk(rows: Seq[(Long, String, Double)]): DataFrame =
    rows.toDF("id", "dom", "x")

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("round", "domain").collect().map(_.toSeq).toSeq

  test("per-epoch trajectory == batch doremiWeights on the accumulated " +
    "corpus (same rounds/gates/grid); replay no-ops; compact preserves") {
    val path = java.nio.file.Files.createTempDirectory("graft_smix").toString
    var seen: DataFrame = null
    epochs.zipWithIndex.foreach { case (rows, e) =>
      val batch = mk(rows)
      val streamed = StreamMixture.processEpoch(batch, e.toLong, "dom",
        "id", col("x"), rounds = 4, path = path)
      seen = if (seen == null) batch else seen.unionAll(batch)
      val direct = Sampling.doremiWeights(seen, "dom", "id", col("x"),
        rounds = 4)
      assert(rowsOf(streamed) == rowsOf(direct),
        s"epoch $e: store trajectory must equal the batch operator " +
          "over everything seen")
    }
    // domain C entered at epoch 2 and must be in the final trajectory
    assert(rowsOf(StreamMixture.weights(spark, path, rounds = 4))
      .exists(_(1) == "C"))
    // replay of an applied epoch: a no-op, trajectory fixed
    val before = rowsOf(StreamMixture.weights(spark, path, rounds = 4))
    StreamMixture.processEpoch(mk(epochs(1)), 1L, "dom", "id", col("x"),
      rounds = 4, path = path)
    assert(rowsOf(StreamMixture.weights(spark, path, rounds = 4)) == before,
      "replayed epoch must no-op")
    // compact folds the shards and changes nothing
    StreamMixture.compact(spark, path)
    val files = StoreFiles.parquetFiles(Store.latest(spark, path).dirs("stats"))
    assert(files == 1, s"compact must fold to one shard: $files")
    assert(rowsOf(StreamMixture.weights(spark, path, rounds = 4)) == before,
      "compact must not move the trajectory")
    // a prefix replay (fewer rounds) is just the first rounds of the
    // same chain — the stats store is per-round, not per-trajectory
    val two = rowsOf(StreamMixture.weights(spark, path, rounds = 2))
    assert(two == before.filter(r => r.head.asInstanceOf[Long] <= 2L))
  }

  test("foreachBatch writer: final streamed trajectory == batch operator " +
    "on the full corpus (stream==batch, the X125 twin contract)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_smix2").toString
    val mem = MemoryStream[(Long, String, Double)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = StreamMixture.writer(mem.toDF().toDF("id", "dom", "x"), "dom",
        "id", col("x"), rounds = 3, path = path) { (traj, _) =>
        acc += rowsOf(traj)
      }
      .outputMode("update").start()
    try {
      epochs.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(acc.size == epochs.size)
    val direct = Sampling.doremiWeights(mk(epochs.flatten), "dom", "id",
      col("x"), rounds = 3)
    assert(acc.last == rowsOf(direct))
  }
}
