package graft

/** Dump `.explain("formatted")` for registered queries to files:
  * runMain graft.ExplainDump <outDir> <sfDir> <name>... — the plan
  * evidence for plans/r15/<query>_{before,after}.txt. Queries whose
  * builder performs protocol commits (log_table_*) explain the FINAL
  * read; their cost is attributed with [[JobProfile]] instead. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val names = args.drop(2)
    val spark = Driver.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$n.txt"), plan)
      println(s"[explain] wrote $outDir/$n.txt")
    }
    spark.stop()
  }
}
