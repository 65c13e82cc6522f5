package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Measurements taken by the benchmark around the library's calls. */
object Metrics {

  /** Driver heap in use right after a full collection, in MB: what the
    * session retains between passes (in local mode the driver is also the
    * executor). */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of every thread of this process since it started. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the calling (driver) thread. */
  def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** Sums the CPU time of every finished Spark task. Unlike the process's
    * CPU time it leaves out the JIT compiler, GC and listener threads,
    * whose share varies from run to run. Registered in every run: Spark
    * posts these events whether or not anyone listens. */
  final class TaskCpu(spark: SparkSession) extends org.apache.spark.scheduler.SparkListener {
    private val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    private val started = new java.util.concurrent.atomic.AtomicInteger()
    private val ended = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(this)
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      started.incrementAndGet()
    override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      ended.incrementAndGet()
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => cpuNs.addAndGet(m.executorCpuTime))
    /** Task CPU seconds so far, once every job submitted has been reported
      * ended (the listener bus delivers events asynchronously). */
    def seconds(): Double = {
      val deadline = System.nanoTime() + 10000000000L
      var quiet = 0
      while (quiet < 2 && System.nanoTime() < deadline) {
        Thread.sleep(20)
        if (started.get() == ended.get()) quiet += 1 else quiet = 0
      }
      cpuNs.get() / 1e9
    }
  }

  def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Roots holding persisted stores: the benchmark's own index
    * directories and the scratch directories the library's queries put
    * their indexes in (under `java.io.tmpdir`). */
  private def storeRoots(c: Ctx): Seq[File] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    new File(c.out, "store") +: Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
  }

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else if (f.isFile && !f.getName.endsWith(".crc")) Iterator(f)
    else Iterator.empty

  /** path -> size, mtime of every store file. */
  def storeFiles(c: Ctx): Map[String, (Long, Long)] =
    storeRoots(c).iterator.flatMap(walk)
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap

  /** Adds the files an operation created or rewrote to the store counters.
    * Every epoch a streaming store applies commits one marker file under
    * its `applied_epochs` directory, so new markers count epochs. */
  def storeWrites(c: Ctx, before: Map[String, (Long, Long)]): Unit = {
    val written = storeFiles(c).filter { case (p, v) => !before.get(p).contains(v) }
    c.tracer.add("store.files_written", written.size)
    c.tracer.add("store.bytes_written", written.values.map(_._1).sum.toDouble)
    c.tracer.add("streaming.epochs", written.keys.count(p =>
      p.contains(s"${File.separator}applied_epochs${File.separator}") &&
        p.endsWith(".parquet") && !before.contains(p)))
  }

  def bytesUnder(path: String): Long = walk(new File(path)).map(_.length()).sum

  /** Traced runs only: the state a pass leaves behind. */
  def endOfPass(c: Ctx): Unit = {
    val files = storeFiles(c)
    c.tracer.add("store.files_live", files.size)
    c.tracer.add("store.live_bytes", files.values.map(_._1).sum.toDouble)
    c.tracer.add("cache.bytes", c.spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum)
  }

  /** Captures the executed plan of the next successful action on a session. */
  final class PlanCapture(spark: SparkSession) extends QueryExecutionListener {
    @volatile var plan: Option[String] = None
    private val lm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    lm.register(this)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      plan = Some(qe.executedPlan.toString)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    /** Waits for the (asynchronous) callback, then unregisters. */
    def await(): String = {
      val deadline = System.nanoTime() + 10000000000L
      while (plan.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      lm.unregister(this)
      plan.getOrElse("")
    }
  }
}

/** Shows the timed action is not pruned: under it the executed plans of
  * q_f6 and q_x2 still hold the expressions of the operator under test,
  * while under `count()` the optimizer may drop them. */
object SelfTest {
  private val cases = Seq(
    "q_f6_round_half_down" -> "round_half_down",
    "q_x2_pii_scrub" -> "regexp_replace")

  /** Tests the cases whose query is in the workload's mix (dumped in the
    * warm-up), on the same session and data. */
  def run(c: Ctx): Unit = cases.filter(q => c.dumps.contains(q._1)).foreach { case (q, token) =>
    def planOf(action: org.apache.spark.sql.DataFrame => Unit): String = {
      val cap = new Metrics.PlanCapture(c.spark)
      action(graft.SparkEntry.queries(q)(c.spark, c.data))
      cap.await()
    }
    val timed = planOf(df => df.write.format("noop").mode("overwrite").save())
    val counted = planOf(df => { df.count(); () })
    c.check(s"selftest:$q", timed.contains(token),
      s"executed plan under the timed action lacks $token")
    c.extra(s"selftest.$q.count_keeps_operator") = if (counted.contains(token)) 1 else 0
  }
}
