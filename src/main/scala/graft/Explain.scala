package graft

/** Dev utility: print the formatted physical plan of one query and time
  * its execution, in the session and with the timed action the benchmark
  * uses: [[GraftSession.local]], and a write to the `noop` sink, which
  * computes every output column (`count()` would prune unused ones).
  * Usage: runMain graft.Explain <queryName> [sfDir] */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
