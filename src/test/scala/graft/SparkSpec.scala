package graft

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local SparkSession for specs (one per test JVM via lazy val):
  * [[GraftSession.local]] at 4 cores, so specs run under the settings,
  * plan rules and codegen cache the harnesses measure. The forked test
  * JVM holds one SparkContext, and Spark fixes the codegen cache size the
  * first time it compiles, so this builder decides it. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** The smallest generated testdata dir. */
  val Sf0001 = "/root/testdata/sf0.001"

  /** The number of Spark jobs `block` submits, counted once the listener
    * bus has delivered every job-start event (earlier jobs' events are
    * drained before counting starts). */
  def jobsSubmitted(block: => Any): Int = jobStarts(block).size

  /** The most stages, skipped ones included, of any Spark job `block`
    * submits: a job's stages are its whole shuffle lineage, so a loop
    * whose lineage is not cut shows up here as a number that grows with
    * the iterations. */
  def maxStagesPerJob(block: => Any): Int =
    jobStarts(block).map(_.stageIds.size).foldLeft(0)(math.max)

  private def jobStarts(block: => Any): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { starts.add(e); () }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { block; ListenerBusDrain(sc); starts.asScala.toSeq }
    finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** Spark reads `spark.*` JVM system properties into every new context's
    * conf, so the specs' warehouse goes to a temp dir this way. */
  lazy val session: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    GraftSession.local("4")
  }
}
