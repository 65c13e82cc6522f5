package graft.operators

import org.apache.spark.graftshim.JobTags
import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from a small driver thread pool —
  * guide §2.6 ("actions are only sequential because your driver code
  * calls them sequentially"): an index build's artifact writes are
  * independent jobs whose tails leave most cores idle, so submitting
  * them concurrently lets the next write's tasks back-fill executors
  * freed by the current one's stragglers. At bench scale the win is
  * mostly the serialized driver round-trips (job submit → result) that
  * now overlap; at 100 TB it is the stage tails.
  *
  * Callers own independence: jobs must not read what a sibling writes
  * (DedupIndex/IvfPqIndex pass only writes into disjoint artifact
  * directories, whose inputs are materialized or memoized). Shared upstream
  * frames must be MATERIALIZED first (persist + count) or the
  * concurrent first-consumers each compute the subtree — the round-14
  * lazy-cache lesson.
  *
  * Scheduling is the default FIFO (earlier job gets resources first,
  * later ones back-fill — exactly the tail-filling behavior wanted);
  * job descriptions stay correct because they are thread-local. */
private[graft] object ParallelJobs { // graft-wide: operators + streaming

  /** Run every job, each on its own pool thread (pool sized to the job
    * count, capped at 4 — "2-3 jobs in flight is plenty") and rethrow the
    * FIRST failure (by submission order) unwrapped. The first failure
    * abandons the batch — its siblings' work is waste: their threads are
    * interrupted, and once they have stopped, every Spark job they
    * submitted (tagged with one job tag per batch) is cancelled, with
    * running tasks interrupted; `run` returns only after the scheduler
    * has ended those jobs. An interrupt of the caller abandons the batch
    * the same way and is re-raised with the caller's interrupt flag
    * restored. One job degenerates to a plain call. */
  def run(jobs: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{CancellationException, ExecutionException,
      ExecutorCompletionService, Executors, Future, TimeUnit}
    if (jobs.sizeIs <= 1) { jobs.foreach(_.apply()); return }
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)
    val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(jobs.size, 4))
    val done = new ExecutorCompletionService[Unit](pool)
    def failure(f: Future[Unit]): Option[Throwable] =
      try { f.get(); None } catch {
        case e: ExecutionException => Some(Option(e.getCause).getOrElse(e))
        case _: CancellationException => None
      }
    try {
      val futs = jobs.map(j => done.submit { () =>
        sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
        j()
      })
      def abandon(): Unit = {
        futs.foreach(_.cancel(true))
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        sc.foreach(JobTags.cancelAndWait(_, tag, "a sibling job failed"))
      }
      // wait in COMPLETION order, so a failure is seen while its siblings
      // still run
      try {
        var pending = futs.size
        while (pending > 0 && failure(done.take()).isEmpty) pending -= 1
        if (pending > 0) abandon()
      } catch { case e: InterruptedException =>
        abandon()
        Thread.currentThread().interrupt()
        throw e
      }
      futs.iterator.flatMap(failure).nextOption().foreach(throw _)
    } finally { pool.shutdownNow(); () }
  }
}
