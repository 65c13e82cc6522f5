package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The process-wide memo registry: every build-once value the library
  * keeps between calls (resolved table plans, trained vocabularies,
  * persisted shared frames, index sidecars, replay markers) lives here,
  * under a (path, name) key in one of two scopes.
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
  * '''Path scope''' ([[path]], [[put]]) holds plain driver data read
  * from small sidecar files of a persisted store (index meta, Bloom
  * words, codebook, applied-epochs marker), keyed by path alone.
  * Streaming `foreachBatch` bodies run under CLONED sessions; a
  * session-keyed sidecar memo would go stale for the parent session the
  * moment an epoch appended. The scope is write-through under the
  * single-writer lane: every mutation of a store's sidecars goes through
  * its owning object, which calls [[put]] after the file write
  * succeeded, so in-process readers never see a stale value. The first
  * read of a store written by another process comes from disk; a
  * concurrent writer in another process is outside the contract.
  *
  * Paths are keyed in Hadoop's lexical normal form (no filesystem call),
  * so `d`, `d/` and `d//` share their entries. [[invalidate]] drops
  * every entry of a path in both scopes: a rebuild replaces every
  * artifact the entries mirror. */
private[graft] object Memo {

  private type Key = (String, String)
  private val sessions = TrieMap.empty[SparkSession, TrieMap[Key, Any]]
  private val paths = TrieMap.empty[Key, Any]

  /** `p` in lexical Hadoop normal form; the empty path (an entry tied to
    * no path) stays empty. */
  private def norm(p: String): String =
    if (p.isEmpty) p else new Path(p).toString

  /** The session-scoped value of (`p`, `name`), built on first use. */
  def session[V](spark: SparkSession, p: String, name: String)
                (build: => V): V = {
    sessions.keySet.foreach { s =>
      if (s.sparkContext.isStopped) sessions.remove(s)
    }
    sessions.getOrElseUpdate(spark, TrieMap.empty[Key, Any])
      .getOrElseUpdate((norm(p), name), build).asInstanceOf[V]
  }

  /** The path-scoped value of (`p`, `name`), read on first use. */
  def path[V](p: String, name: String)(read: => V): V =
    paths.getOrElseUpdate((norm(p), name), read).asInstanceOf[V]

  /** The path-scoped value, if present; never reads. */
  def peek[V](p: String, name: String): Option[V] =
    paths.get((norm(p), name)).map(_.asInstanceOf[V])

  /** Write through: the value just written to the store at `p`. */
  def put(p: String, name: String, v: Any): Unit = {
    paths.put((norm(p), name), v); ()
  }

  def invalidate(p: String): Unit = {
    val np = norm(p)
    def drop(m: TrieMap[Key, Any]): Unit =
      m.keySet.foreach(k => if (k._1 == np) m.remove(k))
    drop(paths)
    sessions.values.foreach(drop)
  }
}
