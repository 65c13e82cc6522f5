package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ParallelJobs

/** The pool's cancel and interrupt contract, for plain jobs and for the
  * Spark jobs a sibling already submitted. */
class ParallelJobsSpec extends AnyFunSuite with SparkSpec {

  /** A job that blocks (bounded, so a regression fails instead of
    * hanging) until interrupted, counting the interrupt down. */
  private def blocked(started: CountDownLatch,
                      interrupted: CountDownLatch): () => Unit = () => {
    started.countDown()
    try { new CountDownLatch(1).await(20, TimeUnit.SECONDS); () }
    catch { case _: InterruptedException => interrupted.countDown() }
  }

  test("the first failure interrupts a blocked sibling and is rethrown " +
    "promptly") {
    val started = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      ParallelJobs.run(Seq(
        blocked(started, interrupted),
        () => { started.await(); throw new IllegalStateException("boom") }))
    }
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "boom")
    assert(waitedS < 10, s"run waited ${waitedS}s for the blocked sibling")
    assert(interrupted.await(10, TimeUnit.SECONDS),
      "the blocked sibling was never interrupted")
  }

  test("an interrupted caller cancels the jobs, keeps its interrupt flag " +
    "and rethrows") {
    val started = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    @volatile var caught: Option[Throwable] = None
    @volatile var flagKept = false
    val caller = new Thread(() => {
      try ParallelJobs.run(Seq(blocked(started, interrupted),
        blocked(new CountDownLatch(1), new CountDownLatch(1))))
      catch { case t: Throwable =>
        caught = Some(t); flagKept = Thread.currentThread().isInterrupted }
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive, "run did not return after the interrupt")
    assert(caught.exists(_.isInstanceOf[InterruptedException]), caught)
    assert(flagKept, "the caller's interrupt flag was cleared")
    assert(interrupted.await(10, TimeUnit.SECONDS),
      "the running job was never interrupted")
  }

  test("the first failure cancels the Spark job a sibling already " +
    "submitted, and that job has ended before run returns") {
    val sc = spark.sparkContext
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobEnd]
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.add(e); () }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    SlowRows.started = new CountDownLatch(1)
    val slow = udf { (x: Long) =>
      SlowRows.started.countDown(); Thread.sleep(SlowRows.SleepMs); x }
    val t0 = System.nanoTime()
    var returnedAt = 0L
    try {
      val e = intercept[IllegalStateException] {
        try ParallelJobs.run(Seq(
          () => { spark.range(0, 4, 1, 4).select(slow(col("id"))).collect(); () },
          () => {
            SlowRows.started.await()
            throw new IllegalStateException("boom")
          }))
        finally returnedAt = System.currentTimeMillis()
      }
      assert(e.getMessage == "boom")
      // Each of the sibling's 4 tasks sleeps 30 s; cancelling it takes
      // the scheduler milliseconds. A run that waited for the tasks would
      // take >= 30 s, so half of that tells the two apart on a loaded host.
      val waitedS = (System.nanoTime() - t0) / 1e9
      assert(waitedS < SlowRows.SleepMs / 2000.0, s"run took ${waitedS}s")
      ListenerBusDrain(sc)
      val sibling = ends.toArray(Array.empty[SparkListenerJobEnd])
      assert(sibling.length == 1, sibling.toSeq)
      assert(sibling.head.jobResult != JobSucceeded)
      assert(sibling.head.time <= returnedAt,
        s"the sibling's job ended ${sibling.head.time - returnedAt} ms after run returned")
    } finally sc.removeSparkListener(listener)
  }
}

/** The slow UDF's shared state: executor tasks run in this JVM, so they
  * count down the latch the driver-side job waits on. */
object SlowRows {
  val SleepMs = 30000L
  @volatile var started: CountDownLatch = new CountDownLatch(1)
}
