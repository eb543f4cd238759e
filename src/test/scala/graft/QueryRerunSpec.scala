package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._

/** A registered query that reads through a table catalog must read its
  * OWN warehouse every time it runs: bench reps and warm-ups invoke the
  * same builder repeatedly in one session, and Spark caches catalog
  * plugins by name, so a re-used catalog name silently keeps serving
  * the first invocation's tables. */
class QueryRerunSpec extends SparkSpec {

  /** A tiny customer/orders fixture, enough for the catalog queries. */
  private lazy val sfDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rerun")
    spark.range(1, 401).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      (col("id") % 25).cast("int").as("c_nationkey"),
      ((col("id") * 37) % 1000 - 100).cast("double").as("c_acctbal"),
      element_at(array(lit("AUTOMOBILE"), lit("BUILDING"),
        lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY")),
        (col("id") % 5 + 1).cast("int")).as("c_mktsegment"))
      .write.parquet(s"$dir/customer.parquet")
    spark.range(1, 2001).select(
      col("id").as("o_orderkey"),
      (col("id") * 7 % 400 + 1).as("o_custkey"),
      lit("O").as("o_orderstatus"),
      (col("id") * 1.5).as("o_totalprice"),
      timestamp_seconds(lit(883612800L) + col("id") * 3600)
        .as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      .write.parquet(s"$dir/orders.parquet")
    dir.toString
  }

  /** Every data file the physical plan scans — through a V1 file scan
    * or the DSv2 parquet scan a catalog table plans to (for which
    * `Dataset.inputFiles` reports nothing). */
  private def scannedFiles(df: DataFrame): Set[String] =
    df.inputFiles.toSet ++ df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan match {
        case f: FileScan => f.fileIndex.inputFiles.toSeq
        case _ => Nil
      }
      case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
    }.flatten

  /** The log-table directory of each data file (`<table>/data/f-*`). */
  private def tableDirs(files: Set[String]): Set[String] =
    files.map(f => new org.apache.hadoop.fs.Path(f).getParent.getParent.toString)

  Seq("catalog_time_travel", "log_table_procedures",
    "log_table_time_travel", "sql_merge_log").foreach { name =>
    test(s"$name re-run in one session reads its own warehouse") {
      val build = SparkEntry.queries(name)
      val first = build(spark, sfDir)
      val firstFiles = scannedFiles(first)
      val firstRows = first.collect().toSeq
      val second = build(spark, sfDir)
      val secondFiles = scannedFiles(second)
      assert(firstFiles.nonEmpty && secondFiles.nonEmpty)
      assert(firstFiles.intersect(secondFiles).isEmpty,
        s"the re-run scanned the first run's files: " +
          firstFiles.intersect(secondFiles).take(3).mkString(", "))
      // disjoint files alone can hide a shared table: a re-run that
      // restores an older version of the first run's table scans
      // other files of the same directory
      assert(tableDirs(firstFiles).intersect(tableDirs(secondFiles)).isEmpty,
        s"the re-run read the first run's table: ${tableDirs(secondFiles)}")
      assert(second.collect().toSeq == firstRows)
    }
  }
}
