package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every `graft.*` main shares, so a timing from one main
  * measures the configuration the others run: the session, the way a
  * query is executed, the warm-up and the JSON string escaper. */
object Driver {

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition
    * per core, UTC session time and no UI. AQE stays on (skew
    * handling) but without its 1 MB partition-size floor, which would
    * coalesce small-input/large-output stages to one task. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Force FULL result production: count() lets Catalyst prune
    * projections/sorts above the counted subtree, under-measuring
    * map-only queries — materializing the executed plan's row RDD
    * computes every output column of the plan as written. */
  def run(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Steady-state warm-up (JMH practice): run [[SparkEntry.entry]],
    * then each of `names` once at sf0.001 when that tier sits next to
    * `sfDir`, so JVM start-up, Janino compilation and JIT of each
    * query's generated classes are excluded from the measured pass.
    * The warm-up reads different parquet paths, so no scan, shuffle
    * or persisted plan fragment is reused by the measured run, and
    * the cache is cleared afterwards regardless. Every failure is
    * printed to stderr as `[main] name warm-up failed: class: msg`;
    * the failures of `names` are returned in warm-up order. */
  def warmUp(spark: SparkSession, main: String, sfDir: String,
             names: Seq[String]): Seq[(String, Throwable)] = {
    def attempt(name: String)(body: => Long): Option[(String, Throwable)] =
      try { body; None }
      catch { case e: Throwable =>
        System.err.println(s"[$main] $name warm-up failed: " +
          s"${e.getClass.getName}: ${e.getMessage}")
        Some(name -> e)
      }
    attempt("entry")(run(SparkEntry.entry(spark)))
    val warmDir = sfDir.replaceAll("sf[0-9.]+$", "sf0.001")
    val failures =
      if (warmDir == sfDir || !new java.io.File(warmDir).isDirectory) Nil
      else names.flatMap(n =>
        attempt(n)(run(SparkEntry.queries(n)(spark, warmDir))))
    spark.sharedState.cacheManager.clearCache()
    failures
  }

  /** `s` as a quoted JSON string. Escapes quote, backslash and ALL
    * control characters below 0x20 — a tab or CR in hand-written oracle
    * SQL would otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
