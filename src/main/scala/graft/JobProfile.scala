package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-Spark-job attribution for one registered query (guide §1.1):
  * runMain graft.JobProfile <name> [sfDir]. Prints every job the
  * query ran — wall ms, call site — so commit-bound queries
  * (log_table_*) can be attributed job-by-job instead of guessed at.
  * Warm-up at sf0.001 first, like Bench, so JIT/codegen costs don't
  * masquerade as job time. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Driver.session()
    Driver.warmUp(spark, "jobprofile", sfDir, Seq(name))

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // AQE submits stages from its thread pool, so the stage NAME
        // is an anonfun — dig the first graft frame out of the call
        // site long form (StageInfo.details) for attribution
        val stage = js.stageInfos.lastOption
        val name = stage.map(_.name).getOrElse("?")
        val site = stage.map(_.details).getOrElse("")
          .linesIterator.find(_.contains("graft."))
          .map(_.trim.stripPrefix("at ")).getOrElse(name)
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          lines.add((je.jobId, (System.nanoTime() - t0) / 1000000L, site))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // driver-side attribution: sample the main thread's stack while
    // the query runs and count the deepest graft frame — where the
    // driver gap (wall time minus job time) is actually spent
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = mainThread.getStackTrace
        val frame = st.find(e => e.getClassName.startsWith("graft."))
          .map(e => s"${e.getClassName}.${e.getMethodName}:${e.getLineNumber}")
          .getOrElse(st.drop(2).headOption.map(e =>
            s"${e.getClassName}.${e.getMethodName}").getOrElse("?"))
        samples.merge(frame, 1, (a, b) => a + b)
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    val n = Driver.run(SparkEntry.queries(name)(spark, sfDir))
    val total = (System.nanoTime() - t0) / 1e9
    sampling = false
    Thread.sleep(1000) // let the async listener bus drain
    import scala.jdk.CollectionConverters._
    val all = lines.asScala.toSeq.sortBy(_._1)
    println(f"[jobprofile] $name: $n rows, $total%.2f s total, ${all.size} jobs")
    all.foreach { case (id, ms, site) =>
      println(f"[jobprofile]   job $id%4d $ms%6d ms  $site")
    }
    val jobSum = all.map(_._2).sum / 1000.0
    println(f"[jobprofile] job time sum $jobSum%.2f s " +
      f"(driver-side gap ${total - jobSum}%.2f s)")
    samples.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (f, c) =>
      println(f"[jobprofile] drv ${c.toInt * 10}%6d ms~ $f")
    }
    spark.stop()
  }
}
