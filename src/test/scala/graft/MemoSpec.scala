package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CloneSession
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamGate, StreamMixture}

class MemoSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_memo_$tag").toString

  test("session scope: built once per session, again in newSession()") {
    val p = tmp("session")
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession): String =
      Memo.session(s, p, "v") { builds += 1; s"b$builds" }
    assert(build(spark) == "b1" && build(spark) == "b1" && builds == 1)
    val fresh = spark.newSession()
    assert(build(fresh) == "b2", "a new session must start empty")
    assert(build(spark) == "b1" && builds == 2)
    // a real site: the resolved table plan is per session
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$p/t.parquet")
    val t = sources.Tables.table(spark, p, "t")
    assert(sources.Tables.table(spark, p + "/", "t") eq t)
    assert(!(sources.Tables.table(fresh, p, "t") eq t))
  }

  test("path scope: a read submits no job from a new or a cloned session") {
    val p = tmp("path")
    Seq(7L).toDF("v").write.parquet(s"$p/v")
    def read(s: org.apache.spark.sql.SparkSession): Long =
      Memo.path(p, "v")(s.read.parquet(s"$p/v").head().getLong(0))
    assert(read(spark) == 7L)
    val store = s"$p/store"
    Store.commit(spark, store)(_.setEpoch(3L))
    for (s <- Seq(spark.newSession(), CloneSession(spark))) {
      var v = 0L
      var applied: Option[Long] = None
      assert(jobsSubmitted {
        v = read(s); applied = Store.current(s, store + "/").flatMap(_.epoch)
      } == 0)
      assert(v == 7L && applied == Some(3L))
    }
  }

  test("invalidate(path) drops both scopes' entries for that path only") {
    val p = tmp("inv"); val q = tmp("keep")
    var builds = 0
    def fill(): Unit = Seq(p, q).foreach { d =>
      Memo.session(spark, d, "s") { builds += 1 }
      Memo.path(d, "p") { builds += 1 }
    }
    fill()
    assert(builds == 4)
    Memo.invalidate(p + "/")
    assert(Memo.peek[Unit](p, "p").isEmpty && Memo.peek[Unit](q, "p").nonEmpty)
    fill()
    assert(builds == 6, "only p's two entries are rebuilt")
  }

  test("invalidate(path) unpersists the persisted frames it drops") {
    val p = tmp("unpersist")
    Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
      .write.parquet(s"$p/documents.parquet")
    // the shared shingle frame: a persisted cachedPerDir entry
    TextSimQueries.sharedShingles(spark, p).count()
    val before = spark.sparkContext.getPersistentRDDs.size
    Memo.invalidate(p)
    assert(spark.sparkContext.getPersistentRDDs.size == before - 1,
      "the dropped frame is still cached")
  }

  test("applied after record submits no job in StreamGate's and " +
    "StreamMixture's lanes") {
    val batch = Seq((1L, "a", 0.5), (2L, "b", 0.25)).toDF("id", "grp", "q")
    val gate = tmp("gate"); val mix = tmp("mix")
    StreamGate.processEpoch(batch, 0L, "grp", col("q"), 0.5, gate)
    StreamMixture.processEpoch(batch, 0L, "grp", "id", col("q"), rounds = 2,
      path = mix)
    StreamMixture.processEpoch(batch, 1L, "grp", "id", col("q"), rounds = 2,
      path = mix)
    for ((path, last) <- Seq(gate -> 0L, mix -> 1L)) {
      var applied: Option[Long] = None
      assert(jobsSubmitted {
        applied = Store.current(CloneSession(spark), path).flatMap(_.epoch)
      } == 0, path)
      assert(applied == Some(last), path)
    }
  }

  test("no process-wide map outside Memo but the allowlisted ones") {
    // the HTTP client pool and the bench harness's listener map hold no
    // memoized results
    val allowed = Set("Memo.scala", "ErddapHttp.scala", "Bench.scala")
    val decl = """\b(TrieMap|ConcurrentHashMap|WeakHashMap)\b""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def lines(f: java.io.File): List[String] = scala.util.Using.resource(
      scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toList)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala")
      if !allowed(f.getName)
      (line, i) <- lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if decl.findFirstIn(code).isDefined
    } yield s"${f.getPath}:${i + 1}: $code"
    assert(hits.isEmpty, "route memos through graft.Memo:\n" +
      hits.mkString("\n"))
  }
}
