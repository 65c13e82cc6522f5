package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The process-wide memo registry: every build-once value the library
  * keeps between calls (resolved table plans, trained vocabularies,
  * persisted shared frames, store artifacts) lives here, under a
  * (path, name) key in one of two scopes, each entry tagged with a
  * version.
  *
  * '''Session scope''' ([[session]]) holds values tied to one
  * SparkSession: DataFrames (their plans belong to the session that
  * built them) and values a caller expects to recompute in a fresh
  * session. Keys are the session INSTANCE, so `spark.newSession()`
  * starts empty (a cold pass in a warm JVM rebuilds every entry). Not
  * `identityHashCode`, which can collide once a stopped session is
  * garbage-collected, and not weak keys: a cached DataFrame strongly
  * references its session, so a `WeakHashMap` entry's value would pin
  * its own key forever. Entries of a stopped context are purged on the
  * next access. A session abandoned through `newSession()` keeps its
  * entries until the context stops.
  *
  * '''Path scope''' ([[path]]) holds plain driver data keyed by path
  * alone, shared by every session: streaming `foreachBatch` bodies run
  * under CLONED sessions, which must see what the parent session read.
  *
  * '''Versions.''' A store memo ([[Store]]: Bloom words, codebook, codes
  * schema, centroid plans) passes the directory of the artifact it
  * mirrors as its version. That directory embeds the commit id that
  * wrote it, so a lookup after the store moved on (a commit in this or
  * another process, a deleted and rebuilt store, a file copy over it)
  * misses and re-reads, and the stale value is dropped. One entry per
  * (path, name) is kept, so a long stream of commits cannot pile up
  * versions. [[put]] is the write-through a writer uses to prime the
  * entry of the commit it just published.
  *
  * Paths are keyed in Hadoop's lexical normal form (no filesystem call),
  * so `d`, `d/` and `d//` share their entries. [[invalidate]] drops
  * every entry of a path in both scopes. A dropped or replaced Dataset
  * value that is persisted is unpersisted with it. */
private[graft] object Memo {

  private final case class Entry(version: String, value: Any)
  private type Scope = TrieMap[(String, String), Entry]
  private val sessions = TrieMap.empty[SparkSession, Scope]
  private val paths: Scope = TrieMap.empty

  /** `p` in lexical Hadoop normal form; the empty path (an entry tied to
    * no path) stays empty. */
  private def norm(p: String): String =
    if (p.isEmpty) p else new Path(p).toString

  /** A dropped value's cached blocks go with it. */
  private def release(v: Any): Unit = v match {
    case d: Dataset[_] if d.storageLevel != StorageLevel.NONE => d.unpersist(); ()
    case _ => ()
  }

  /** The value of (`p`, `name`) at `version`, built on first use. Two
    * threads that miss at once both build, and the later one is kept. */
  private def lookup[V](scope: Scope, p: String, name: String,
                        version: String)(build: => V): V = {
    val key = (norm(p), name)
    scope.get(key).filter(_.version == version).getOrElse {
      val e = Entry(version, build)
      scope.put(key, e).filter(_.version != version).foreach(o => release(o.value))
      e
    }.value.asInstanceOf[V]
  }

  /** The session-scoped value of (`p`, `name`) at `version`, built on
    * first use. */
  def session[V](spark: SparkSession, p: String, name: String,
                 version: String = "")(build: => V): V = {
    sessions.keySet.foreach { s =>
      if (s.sparkContext.isStopped) sessions.remove(s)
    }
    lookup(sessions.getOrElseUpdate(spark, TrieMap.empty), p, name, version)(build)
  }

  /** The path-scoped value of (`p`, `name`) at `version`, read on first
    * use. */
  def path[V](p: String, name: String, version: String = "")(read: => V): V =
    lookup(paths, p, name, version)(read)

  /** The path-scoped value, if present; never reads. */
  def peek[V](p: String, name: String): Option[V] =
    paths.get((norm(p), name)).map(_.value.asInstanceOf[V])

  /** Write through: the value the commit at `version` just wrote. */
  def put(p: String, name: String, version: String, v: Any): Unit =
    paths.put((norm(p), name), Entry(version, v))
      .filter(_.version != version).foreach(e => release(e.value))

  def invalidate(p: String): Unit = {
    val np = norm(p)
    def drop(m: Scope): Unit =
      m.keySet.foreach(k => if (k._1 == np) m.remove(k).foreach(e => release(e.value)))
    drop(paths)
    sessions.values.foreach(drop)
  }
}
