package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One timed operation: a query (build plus materialize) or an index,
  * streaming or sink call. */
final case class Sample(pass: Int, name: String, kind: String, seconds: Double,
                        cpuSeconds: Double, ok: Boolean)

/** State shared by a workload's warm-up, passes and checks. */
final class Ctx(var spark: SparkSession, val tracer: Tracer, val data: String,
                val out: File, val seed: Long) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  /** name -> (ok, detail) for every check made outside the timed region. */
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  /** query name -> parquet dump of its output, for the oracle compare. */
  val dumps = mutable.LinkedHashMap.empty[String, String]
  /** End-to-end figures a workload adds (index timings and sizes). */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  /** The pass under way: the warm-up passes ([[Ctx.DumpPass]], then
    * [[Ctx.WarmPass]]) are not recorded; the first dumps every output. */
  var pass: Int = Ctx.DumpPass

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks(name) = (ok, if (ok) "" else detail.take(300))

  /** Times `body` as one operation; a throw is a failed operation, never a
    * timing. Warm-up operations are not recorded. */
  def timed(name: String, kind: String)(body: => Unit): Boolean = {
    val cacheBefore = if (tracer.enabled) Metrics.persisted(spark) else Set.empty[Int]
    val storeBefore = if (tracer.enabled) Metrics.storeFiles(this) else Map.empty[String, (Long, Long)]
    val cpu0 = Metrics.threadCpuNs()
    val t0 = System.nanoTime()
    val ok = try { tracer.span("op", name)(body); true }
    catch {
      case NonFatal(e) =>
        if (pass >= 0) errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        false
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val cpu = (Metrics.threadCpuNs() - cpu0) / 1e9
    System.err.println(f"[perfbench] pass $pass%2d $name%-28s $sec%8.3fs ok=$ok")
    if (pass >= 0) {
      samples += Sample(pass, name, kind, sec, cpu, ok)
      if (tracer.enabled) {
        tracer.add("cache.entries_built", (Metrics.persisted(spark) -- cacheBefore).size)
        Metrics.storeWrites(this, storeBefore)
      }
    }
    ok
  }

  /** The timed action: computes every output column of every row without
    * collecting them, so nothing the caller asked for is pruned. */
  def materialize(df: DataFrame, name: String): Unit =
    tracer.span("exec", name)(df.write.format("noop").mode("overwrite").save())

  /** A SparkEntry query as one operation: build the frame, then run it.
    * In the warm-up the run writes the rows out instead, for the oracle
    * compare the launcher makes after the JVM exits. */
  def query(name: String): Boolean = {
    val ok = timed(name, "query") {
      val df = tracer.span("entry", name)(graft.SparkEntry.queries(name)(spark, data))
      tracer.recordAnalysis(df.queryExecution)
      if (pass != Ctx.DumpPass) materialize(df, name)
      else {
        val path = new File(out, s"check/$name").getAbsolutePath
        df.coalesce(1).write.mode("overwrite").parquet(path)
        dumps(name) = path
      }
    }
    if (!ok && pass == Ctx.DumpPass) check(s"dump:$name", ok = false, "warm-up run failed")
    ok
  }
}

object Ctx {
  val DumpPass = -2
  val WarmPass = -1
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cpus = o("cpus")
    val out = new File(o("out"))
    out.mkdirs()

    val spark = GraftSession.local(cpus)
    val tracer = new Tracer(trace, s"$workload-seed$seed")
    val taskCpu = new Metrics.TaskCpu(spark)
    tracer.attach(spark)
    val ctx = new Ctx(spark, tracer, o("data"), out, seed)
    val wl: Workload = workload match {
      case "glider_analytics" => new GliderAnalytics
      case "curation_cold" => new CurationCold
      case "index_lifecycle" => new IndexLifecycle
      case w => sys.error(s"unknown workload $w")
    }

    // two untimed passes: the first dumps every output for the checks, the
    // second lets the JIT finish compiling the paths the first one took
    for (p <- Seq(Ctx.DumpPass, Ctx.WarmPass)) {
      ctx.pass = p
      wl.beforePass(ctx)
      wl.pass(ctx)
    }
    SelfTest.run(ctx)
    val setupWallS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val setupCpuS = Metrics.processCpuNs() / 1e9

    var heapPeakMb = 0.0
    val from = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passS = mutable.ArrayBuffer.empty[Double]
    val passTaskCpuS = mutable.ArrayBuffer.empty[Double]
    while (passS.isEmpty || System.nanoTime() < deadline) {
      ctx.pass = passS.size
      wl.beforePass(ctx)
      val cpu0 = taskCpu.seconds()
      val t0 = System.nanoTime()
      tracer.span("pass", s"pass${ctx.pass}")(wl.pass(ctx))
      passS += (System.nanoTime() - t0) / 1e9
      passTaskCpuS += taskCpu.seconds() - cpu0
      if (trace) Metrics.endOfPass(ctx)
      heapPeakMb = heapPeakMb max Metrics.heapAfterGcMb()
    }
    val to = System.currentTimeMillis()
    val (layers, spanLines) = tracer.reduce(from, to, passS.size, cpus.toInt)
    wl.check(ctx)

    val counters = tracer.counters.toSeq.map { case (k, v) => k -> v / passS.size }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "setup_wall_s" -> Json.num(setupWallS),
      "setup_cpu_s" -> Json.num(setupCpuS),
      "pass_s" -> Json.arr(passS.map(Json.num)),
      "pass_task_cpu_s" -> Json.arr(passTaskCpuS.map(Json.num)),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "samples" -> Json.arr(ctx.samples.map(s => Json.obj(Seq(
        "pass" -> s.pass.toString, "name" -> Json.str(s.name),
        "kind" -> Json.str(s.kind), "s" -> Json.num(s.seconds),
        "cpu_s" -> Json.num(s.cpuSeconds),
        "ok" -> s.ok.toString)))),
      "errors" -> Json.arr(ctx.errors.map(Json.str)),
      "checks" -> Json.obj(ctx.checks.map { case (k, (ok, d)) =>
        k -> Json.obj(Seq("ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "dumps" -> Json.obj(ctx.dumps.map { case (k, v) => k -> Json.str(v) }),
      "oracle_sql" -> Json.obj(ctx.dumps.keys.toSeq.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql)))),
      "extra" -> Json.obj(ctx.extra.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj((layers.toSeq ++ counters).sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
    ))
    Files.write(Paths.get(out.getPath, "result.json"), result.getBytes(UTF_8))
    if (trace)
      Files.write(Paths.get(out.getPath, "spans.jsonl"),
        spanLines.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}

/** A workload: a pass over its mix, and checks of what the passes
  * produced. */
trait Workload {
  def beforePass(c: Ctx): Unit = ()
  def pass(c: Ctx): Unit
  def check(c: Ctx): Unit

  /** The pass's order of `xs`, fixed by the seed and the pass number. */
  protected def order[T](c: Ctx, xs: Seq[T]): Seq[T] =
    new scala.util.Random(c.seed * 7919L + c.pass).shuffle(xs)
}
