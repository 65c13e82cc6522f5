package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under its own scheme, `faulty:`, that can throw
  * at one chosen point of a store commit: the k-th artifact commit (the
  * `_SUCCESS` marker a finished Spark write creates, after its files are
  * in place) or the manifest rename. `faulty:///a/b` is the local path
  * `/a/b`. Register it with [[FaultyFs.register]]. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri
  override def getScheme: String = FaultyFs.Scheme

  private def commitPoint(f: Path): Unit =
    if (f.getName == "_SUCCESS") FaultyFs.reach(FaultyFs.ArtifactCommit)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    commitPoint(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    commitPoint(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getParent.getName == "_manifest") FaultyFs.reach(FaultyFs.ManifestRename)
    super.rename(src, dst)
  }
}

object FaultyFs {
  val Scheme = "faulty"
  val Uri: URI = URI.create(s"$Scheme:///")

  sealed trait Point
  case object ArtifactCommit extends Point
  case object ManifestRename extends Point

  private var armed: Option[(Point, Int)] = None
  private var reached = Map.empty[Point, Int]

  private def reach(p: Point): Unit = synchronized {
    reached = reached.updated(p, reached.getOrElse(p, 0) + 1)
    if (armed.contains(p -> reached(p)))
      throw new IOException(s"injected fault at $p #${reached(p)}")
  }

  /** Runs `body` with a fault at the `k`-th reach of `point` (none when
    * `fault` is None); returns how often `body` reached each point. */
  def run(fault: Option[(Point, Int)])(body: => Unit): Map[Point, Int] = {
    synchronized { armed = fault; reached = Map.empty }
    try { body; synchronized(reached) }
    finally synchronized { armed = None }
  }

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FaultyFs].getName)

  /** The `faulty:` path of local path `local`, and back. */
  def path(local: String): String = s"$Scheme://$local"
  def local(path: String): String = new Path(path).toUri.getPath
}
