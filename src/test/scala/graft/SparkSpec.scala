package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** The physical plan of every SQL execution `body` starts. */
  protected def plansOf(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ => ()
      }
    }
    GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    plans.toArray.map(_.toString).toSeq
  }

  /** Stage names of the Spark jobs `body` runs outside any SQL
    * execution (a parquet footer-inference job is one). */
  protected def jobsOutsideSql(body: => Unit): Seq[String] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .isEmpty)
          jobs.add(e.stageInfos.map(_.name).mkString(";"))
    }
    GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.toArray.map(_.toString).toSeq
  }

  /** Names of the entries under `dir` of the table at `root` (a
    * table's `_cdf` feed or `_dv` vector directories). */
  protected def entriesUnder(root: String, dir: String): Seq[String] =
    Option(new java.io.File(root, dir).listFiles()).toSeq.flatten
      .map(_.getName)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
