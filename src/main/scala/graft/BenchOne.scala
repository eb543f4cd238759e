package graft

/** Time a single SparkEntry query: runMain graft.BenchOne <name> [sfDir].
  * Warms the query at sf0.001 like Bench, then prints each of `REPS`
  * (default 1) timings and their median; EXPLAIN=1 also prints the
  * formatted plan. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Driver.session()
    Driver.warmUp(spark, "benchone", sfDir, Seq(name))
    if (sys.env.contains("EXPLAIN"))
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    val reps = sys.env.getOrElse("REPS", "1").toInt
    val times = (1 to reps).map { _ =>
      // drop persisted intermediates so later reps don't silently
      // reuse a cached plan fragment from an earlier identical run
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val n = Driver.run(SparkEntry.queries(name)(spark, sfDir))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[benchone] $name: $n rows in $dt%.2f s")
      dt
    }
    println(f"[benchone] median ${times.sorted.apply(times.length / 2)}%.3f s")
    spark.stop()
  }
}
