package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ParallelJobs

/** Plain (non-Spark) jobs: the pool's cancel and interrupt contract. */
class ParallelJobsSpec extends AnyFunSuite {

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
}
