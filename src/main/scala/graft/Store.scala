package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{DefaultFormats, Extraction, Formats, JNothing}
import org.json4s.jackson.{JsonMethods, Serialization}

/** The one commit protocol of every persisted store: [[operators.DedupIndex]],
  * [[operators.IvfPqIndex]] and the StreamMetrics, StreamGate and
  * StreamMixture histogram stores.
  *
  * A store at `path` is a set of named tables, each the union of one or
  * more artifact directories. A mutation writes every artifact it adds
  * into a fresh attempt directory, `path/data/<commitId>/<table>`, and
  * never writes into a directory an earlier commit published. It then
  * publishes a manifest LAST, with one atomic rename onto
  * `path/_manifest/<n>` (n = the previous version + 1). The manifest
  * holds the commit id, the highest stream epoch applied (if any), a few
  * scalar meta values, and for each table its artifact directories, each
  * tagged with the stream epoch that wrote it, and the table's schema. A crash anywhere before
  * the rename leaves the previous manifest in force, so a reader sees the
  * old version or the new one, never a mix. After the rename the writer
  * deletes the older manifests and every attempt directory the new
  * manifest does not reference: the artifacts a rebuild or a compaction
  * replaced, and those of crashed attempts.
  *
  * Readers resolve the latest manifest with one listing and one small
  * file read, never a Spark job, and read each table with the schema the
  * manifest records, so no read infers one from the parquet footers (a
  * Spark job per read). Memos of a store's artifacts are keyed
  * by the artifact's directory, which embeds the commit id that wrote it
  * ([[Memo]]), so a store rewritten by another process, deleted and
  * rebuilt, or replaced by a file copy cannot serve a stale memo.
  *
  * Contract: one writer per store at a time (the single-writer lane), and
  * readers in the same lane — a reader running concurrently with a
  * rebuild or compaction may find the replaced files already deleted. All
  * file access goes through the Hadoop FileSystem of the path, so a
  * store lives on any Hadoop-compatible filesystem. */
private[graft] object Store {

  private val Manifests = "_manifest"
  private val Data = "data"
  private implicit val formats: Formats = DefaultFormats

  /** One artifact directory of a table, relative to the store path, and
    * the stream epoch that wrote it (None: a batch write). */
  final case class Artifact(dir: String, epoch: Option[Long])

  /** One published version of the store at `root`. `schemas` holds each
    * table's schema as JSON, as a read of its artifacts yields it, and
    * `partitionBy` the partition columns of a partitioned table. */
  final case class Manifest(root: String, version: Long, commitId: String,
                            epoch: Option[Long], meta: Map[String, String],
                            tables: Map[String, Seq[Artifact]],
                            schemas: Map[String, String],
                            partitionBy: Map[String, Seq[String]]) {

    /** The absolute directories of `table`, minus those `excludeEpoch`
      * wrote. */
    def dirs(table: String, excludeEpoch: Option[Long] = None): Seq[String] =
      tables.getOrElse(table, Nil)
        .filter(a => excludeEpoch.isEmpty || a.epoch != excludeEpoch)
        .map(a => s"$root/${a.dir}")

    /** The schema `table`'s write recorded. */
    def schema(table: String): StructType =
      DataType.fromJson(schemas(table)).asInstanceOf[StructType]

    /** `table` as one frame; None when it has no artifact. A partitioned
      * table is read one scan per artifact, since Spark infers partitions
      * under one base directory per scan; a filter on a partition column
      * prunes every scan of the union. */
    def readIfAny(spark: SparkSession, table: String,
                  excludeEpoch: Option[Long] = None): Option[DataFrame] = {
      val ds = dirs(table, excludeEpoch)
      lazy val reader = spark.read.schema(schema(table))
      Option.when(ds.nonEmpty)(
        if (partitionBy.contains(table)) ds.map(reader.parquet(_)).reduce(_ union _)
        else reader.parquet(ds: _*))
    }

    def read(spark: SparkSession, table: String,
             excludeEpoch: Option[Long] = None): DataFrame =
      readIfAny(spark, table, excludeEpoch).getOrElse(
        throw new IllegalStateException(s"store $root has no table $table"))

    /** The memo version of `table`: its first artifact directory, unique
      * to the commit that wrote it. An append leaves it unchanged. */
    def versionOf(table: String): String =
      tables.getOrElse(table, Nil).headOption.fold("")(_.dir)
  }

  /** One mutation in progress: the manifest it will publish, starting
    * from the store's current one (or an empty one). */
  final class Commit private[Store] (base: Option[Manifest],
                                     start: Manifest) {
    private var next = start
    private[Store] var primed = Map.empty[String, Any]

    /** The version this commit starts from; an error when there is none. */
    def existing: Manifest = base.getOrElse(throw noStore(start.root))

    /** The state this commit would publish now: read back an artifact it
      * just wrote. */
    def state: Manifest = synchronized(next)

    /** Writes `rows` as parquet into a fresh artifact directory of
      * `table` and records the schema a read of it yields: partition
      * columns last. */
    private def write(table: String, rows: DataFrame, keep: Boolean,
                      epoch: Option[Long], partitionBy: Seq[String]): Unit = {
      val schema = StructType(rows.schema.filterNot(f => partitionBy.contains(f.name)) ++
        partitionBy.map(rows.schema(_)))
      val dir = synchronized {
        val a = Artifact(s"$Data/${start.commitId}/$table", epoch)
        next = next.copy(
          tables = next.tables.updated(table,
            (if (keep) next.tables.getOrElse(table, Nil) else Nil) :+ a),
          schemas = next.schemas.updated(table, schema.json),
          partitionBy = if (partitionBy.isEmpty) next.partitionBy - table
            else next.partitionBy.updated(table, partitionBy))
        s"${start.root}/${a.dir}"
      }
      rows.write.partitionBy(partitionBy: _*).parquet(dir)
    }

    /** Write `rows` as a new artifact joining `table`'s, tagged `epoch`. */
    def add(table: String, rows: DataFrame, epoch: Option[Long] = None,
            partitionBy: Seq[String] = Nil): Unit =
      write(table, rows, keep = true, epoch, partitionBy)

    /** Write `rows` as a new artifact replacing all of `table`'s. */
    def replace(table: String, rows: DataFrame,
                partitionBy: Seq[String] = Nil): Unit =
      write(table, rows, keep = false, None, partitionBy)

    def drop(table: String): Unit = synchronized {
      next = next.copy(tables = next.tables - table,
        schemas = next.schemas - table, partitionBy = next.partitionBy - table)
    }

    def setMeta(key: String, value: Any): Unit = synchronized {
      next = next.copy(meta = next.meta.updated(key, value.toString))
    }

    def setEpoch(epoch: Long): Unit = synchronized {
      next = next.copy(epoch = Some(next.epoch.fold(epoch)(math.max(_, epoch))))
    }

    /** Prime the [[Memo]] entry of `table`'s new version with `value`,
      * once the commit is published. */
    def prime(table: String, value: Any): Unit = synchronized {
      primed = primed.updated(table, value)
    }
  }

  private def fs(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  private def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }

  private def noStore(path: String) =
    new IllegalArgumentException(s"no store at $path: build it first")

  /** The latest manifest of the store at `path`; None when nothing was
    * ever committed there. A path that holds other files but no manifest
    * is an error: it is not a store, or one written in an older layout.
    * So is a manifest that records no table schemas, written before reads
    * took their schema from the manifest. */
  def current(spark: SparkSession, path: String): Option[Manifest] = {
    val root = new Path(path)
    val f = fs(spark, root)
    list(f, new Path(root, Manifests)).flatMap(_.getPath.getName.toLongOption)
      .maxOption match {
      case Some(n) =>
        try {
          val in = f.open(new Path(root, s"$Manifests/$n"))
          val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
          val json = JsonMethods.parse(text)
          if (json \ "schemas" == JNothing) throw new IllegalStateException(
            s"store $path was written by an older version, which recorded " +
              "no table schemas: remove it and build it again")
          Some(Extraction.extract[Manifest](json).copy(root = root.toString, version = n))
        } catch {
          // a newer commit replaced it between the listing and the read
          case _: FileNotFoundException => current(spark, path)
        }
      case None =>
        val stray = list(f, root).map(_.getPath.getName)
          .filterNot(n => n == Data || n == Manifests || n.startsWith("."))
        require(stray.isEmpty, s"$path holds ${stray.sorted.mkString(", ")} " +
          "but no store manifest: it is not a store, or was written in an " +
          "older layout; remove it or choose another path")
        None
    }
  }

  /** The latest manifest; an error naming the path when there is none. */
  def latest(spark: SparkSession, path: String): Manifest =
    current(spark, path).getOrElse(throw noStore(path))

  /** Run `write` as one commit of the store at `path` and publish it.
    * `write` adds its artifacts through the [[Commit]] and writes each
    * into the directory it is given; if it throws, nothing is published.
    * `fresh = true` starts from an empty store: a rebuild, which drops
    * every table, meta value and applied epoch of the previous version. */
  def commit(spark: SparkSession, path: String, fresh: Boolean = false)
            (write: Commit => Unit): Unit = {
    val root = new Path(path)
    val f = fs(spark, root)
    val base = current(spark, path)
    val empty = Manifest(root.toString, base.fold(0L)(_.version + 1),
      UUID.randomUUID().toString, None, Map.empty, Map.empty, Map.empty, Map.empty)
    val c = new Commit(base, (if (fresh) None else base).fold(empty)(b =>
      empty.copy(epoch = b.epoch, meta = b.meta, tables = b.tables,
        schemas = b.schemas, partitionBy = b.partitionBy)))
    write(c)
    val m = c.state
    val manifests = new Path(root, Manifests)
    val staged = new Path(manifests, s".${m.commitId}")
    val out = f.create(staged, false)
    try out.write(Serialization.write(m.copy(root = "")).getBytes(UTF_8))
    finally out.close()
    if (!f.rename(staged, new Path(manifests, m.version.toString)))
      throw new IllegalStateException(
        s"could not publish manifest ${m.version} of $path")
    c.primed.foreach { case (t, v) => Memo.put(path, t, m.versionOf(t), v) }
    list(f, manifests).filterNot(_.getPath.getName == m.version.toString)
      .foreach(s => f.delete(s.getPath, false))
    val live = m.tables.values.flatten.map(_.dir.split('/')(1)).toSet
    list(f, new Path(root, Data)).filterNot(s => live(s.getPath.getName))
      .foreach(s => f.delete(s.getPath, true))
  }

  /** Commit `rows` as one more artifact of `table` of the store at
    * `path`, which must exist. */
  def add(path: String, table: String)(rows: DataFrame): Unit =
    commit(rows.sparkSession, path) { c =>
      c.existing // fails when there is no store to add to
      c.add(table, rows)
    }

  /** Commit stream epoch `epoch` (`write` plus the applied mark, in one
    * manifest) unless the store already applied it; then nothing runs.
    * Wherever a crash lands, the epoch is applied wholly or not at all,
    * so a replayed epoch applies exactly once. Returns whether it
    * applied. */
  def appendEpoch(spark: SparkSession, path: String, epoch: Long)
                 (write: Commit => Unit): Boolean = {
    require(epoch >= 0, s"stream epochs are >= 0: $epoch")
    val applied = !current(spark, path).flatMap(_.epoch).exists(_ >= epoch)
    if (applied) commit(spark, path) { c => write(c); c.setEpoch(epoch) }
    applied
  }

  /** The epoch lane of the histogram stores: [[appendEpoch]] of `rows`
    * as one artifact of `table`, then every `compactEvery` epochs
    * (0 = never) a [[compact]] of the table by `merge`. */
  def appendHistogram(spark: SparkSession, path: String, table: String,
                      epoch: Long, compactEvery: Int)(rows: => DataFrame)
                     (merge: DataFrame => DataFrame): Unit = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    if (appendEpoch(spark, path, epoch)(c => c.add(table, rows, Some(epoch))) &&
        compactEvery > 0 && (epoch + 1) % compactEvery == 0)
      compact(spark, path, table)(merge)
  }

  /** Replace `table` by one artifact (one file) holding `merge` of its
    * rows: the histogram stores' compaction, where merging shards leaves
    * every read unchanged. */
  def compact(spark: SparkSession, path: String, table: String)
             (merge: DataFrame => DataFrame): Unit =
    commit(spark, path) { c =>
      c.replace(table, merge(c.existing.read(spark, table)).coalesce(1))
    }
}
