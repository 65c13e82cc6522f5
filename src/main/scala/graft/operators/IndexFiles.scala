package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}

/** Filesystem plumbing shared by the persisted indexes ([[DedupIndex]],
  * [[IvfPqIndex]]): existence-gated artifact reads (tombstones, bloom,
  * applied-epoch markers are all optional sidecars) and the staged
  * compact swap.
  *
  * Everything goes through the Hadoop `FileSystem` API resolved FROM THE
  * PATH — never `java.io.File` — because build/append/search already run
  * through Spark and work on any Hadoop-compatible store; at the 100 TB
  * daily-ingest target the index lives on distributed storage, where a
  * `java.io.File` rename would fail after writing the staged copy
  * (the round-8 compact bug). */
private[graft] object IndexFiles {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir))

  /** The optional-sidecar read: None when the directory was never
    * written (e.g. an index with no deletes has no tombstones). */
  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(spark.read.parquet(dir)) else None

  def remove(spark: SparkSession, dir: String): Unit = {
    fs(spark, dir).delete(new Path(dir), true); ()
  }

  /** Swap a staged rewrite into place: live → `<live>_old`, staged →
    * live, drop old. A crash before the first rename leaves the original
    * intact; between the renames the original survives at `_old` (the
    * require message says where). Not safe against a CONCURRENT reader
    * across the swap instant — compacts run in the index's write lane,
    * like appends. */
  def swapIn(spark: SparkSession, live: String, staged: String): Unit = {
    val lp = new Path(live)
    val sp = new Path(staged)
    val f = fs(spark, live)
    val old = new Path(live + "_old")
    f.delete(old, true)
    require(f.rename(lp, old) && f.rename(sp, lp),
      s"compact swap failed for $live — original left at $old")
    f.delete(old, true)
    ()
  }
}

/** The `applied_epochs` replay guard shared by the streaming stores
  * ([[DedupIndex]], the StreamMetrics, StreamGate and StreamMixture
  * histogram stores): a parquet sidecar of applied foreachBatch epoch
  * ids under the store's path, read as its high-water mark. It lives
  * with the artifacts it protects, so the guard survives driver
  * restarts. The mark is memoized in [[graft.Memo]]'s path scope and
  * every write goes through here, so an epoch loop reads it from disk
  * once per store and process. */
private[graft] object AppliedEpochs {

  private val Name = "applied_epochs"
  private def dir(path: String): String = s"$path/$Name"

  /** The highest applied epoch, None before the first. */
  def applied(spark: SparkSession, path: String): Option[Long] =
    graft.Memo.path(path, Name) {
      IndexFiles.readIfExists(spark, dir(path))
        .flatMap(df => Option(df.agg(max("epoch")).head().get(0))
          .map(_.asInstanceOf[Long]))
    }

  def record(spark: SparkSession, path: String, epoch: Long): Unit = {
    import spark.implicits._
    Seq(epoch).toDF("epoch").write.mode("append").parquet(dir(path))
    // read through first, so an older on-disk high water is not lost
    val prev = applied(spark, path)
    graft.Memo.put(path, Name, Some(prev.fold(epoch)(math.max(_, epoch))))
  }

  /** The highest epoch stamped in `store` above `floor` (the stamp of
    * rows no stream epoch wrote). The cast covers stamps that
    * partition-directory inference types as int. */
  def maxStamp(store: DataFrame, floor: Long): Option[Long] =
    Option(store.where(col("epoch") > lit(floor))
        .agg(max(col("epoch").cast("long"))).head().get(0))
      .map(_.asInstanceOf[Long])

  /** Record `pendingMax` (the highest epoch stamped in the store) when
    * the mark is below it: a crash landed between that epoch's append
    * and its marker. Compactions seal before they fold the stamps away,
    * so the epoch's later replay no-ops instead of double-counting. */
  def sealPending(spark: SparkSession, path: String,
                  pendingMax: Option[Long]): Unit =
    pendingMax.filterNot(p => applied(spark, path).exists(_ >= p))
      .foreach(record(spark, path, _))

  /** Drop the marker (a rebuilt store starts with no applied epoch). */
  def reset(spark: SparkSession, path: String): Unit = {
    IndexFiles.remove(spark, dir(path))
    graft.Memo.put(path, Name, None)
  }
}
