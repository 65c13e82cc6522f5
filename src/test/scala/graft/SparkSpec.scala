package graft

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite via lazy val). It
  * takes the library's codegen settings ([[GraftSession.codegenReuse]]):
  * the forked test JVM holds one SparkContext, and Spark fixes the codegen
  * cache size the first time it compiles, so this builder decides it. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** The number of Spark jobs `block` submits, counted once the listener
    * bus has delivered every job-start event (earlier jobs' events are
    * drained before counting starts). */
  def jobsSubmitted(block: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try { block; ListenerBusDrain(sc); n.get }
    finally sc.removeSparkListener(counter)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.codegenReuse(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftPlans.install(s)
    s
  }
}
