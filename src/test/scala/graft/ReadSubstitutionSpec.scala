package graft

import graft.sources.{GraftReadSubstitution, GraftTableCatalog, LogTable}
import org.apache.spark.sql.execution.{QueryExecution, RowDataSourceScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalog SQL reads of snapshots the plain parquet scan cannot serve
  * (deletion vectors, hidden partitioning) run as
  * [[LogTable.load]]'s plan, substituted by [[GraftReadSubstitution]]
  * — inside write commands too — and a plan that bypasses the rule
  * fails loudly instead of reading the raw files. */
class ReadSubstitutionSpec extends SparkSpec {
  import spark.implicits._

  private val catSeq = new java.util.concurrent.atomic.AtomicInteger

  private object Plans extends AdaptiveSparkPlanHelper

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_readsub").toString

  /** A catalog over a fresh warehouse holding `dv` (a deletion vector
    * on every fourth key) and `hp` (hidden `bucket(4, k)`
    * partitioning), both with keys 1..40. */
  private def withTables(body: (String, String) => Unit): Unit = {
    val wh = tmp()
    val cat = s"greadsub${catSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val rows = (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
      val dv = new LogTable(s"$wh/dv")
      dv.append(rows.repartition(2))
      dv.deleteMor(spark, col("k") % 4 === 0L)
      assert(dv.liveAdds().exists(_.dv.isDefined))
      val hp = new LogTable(s"$wh/hp")
      hp.create(StructType(Seq(StructField("k", LongType),
        StructField("v", StringType))), partitionBy = Seq("bucket(4,k)"))
      hp.append(rows)
      body(cat, wh)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private def rowsOf(t: LogTable, version: Option[Long] = None)
      : Seq[(Long, String)] =
    t.load(spark, version).select("k", "v").as[(Long, String)]
      .collect().toSeq.sorted

  /** The executed plan of every query execution `body` finishes —
    * a command's own plan included. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.GraftListenerBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  private def rowScans(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(p => Plans.collect(p) { case r: RowDataSourceScanExec => r })

  test("INSERT INTO … SELECT, CTAS and DataFrame writes read a " +
    "deletion-vector and a hidden-partitioned table through the " +
    "load() plan, not a row-based scan") {
    withTables { (cat, wh) =>
      Seq("dv", "hp").foreach { name =>
        val want = rowsOf(new LogTable(s"$wh/$name"))
        assert(want.size == (if (name == "dv") 30 else 40))
        val ins = executedPlans {
          spark.sql(s"CREATE TABLE $cat.${name}_ins (k BIGINT, v STRING) " +
            "USING log")
          spark.sql(s"INSERT INTO $cat.${name}_ins SELECT * FROM $cat.$name")
        }
        assert(rowsOf(new LogTable(s"$wh/${name}_ins")) == want, name)
        assert(ins.nonEmpty && rowScans(ins).isEmpty,
          s"$name INSERT read row by row:\n${ins.mkString("\n")}")

        val ctas = executedPlans {
          spark.sql(s"CREATE TABLE $cat.${name}_ctas USING log AS " +
            s"SELECT * FROM $cat.$name")
        }
        assert(rowsOf(new LogTable(s"$wh/${name}_ctas")) == want, name)
        assert(ctas.nonEmpty && rowScans(ctas).isEmpty,
          s"$name CTAS read row by row:\n${ctas.mkString("\n")}")

        val out = s"${tmp()}/out"
        val write = executedPlans {
          spark.table(s"$cat.$name").write.parquet(out)
        }
        assert(spark.read.parquet(out).select("k", "v")
          .as[(Long, String)].collect().toSeq.sorted == want, name)
        assert(write.nonEmpty && rowScans(write).isEmpty,
          s"$name write read row by row:\n${write.mkString("\n")}")
      }
    }
  }

  test("without the substitution rule a deletion-vector read fails " +
    "with a named refusal instead of reading the raw files") {
    withTables { (cat, wh) =>
      // resolve the catalog first: its initialize registers the rule
      assert(spark.sql(s"SELECT count(*) FROM $cat.dv").as[Long].head()
        == 30L)
      val exp = spark
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .experimental
      val saved = exp.extraOptimizations
      exp.extraOptimizations = saved.filterNot(_ eq GraftReadSubstitution)
      try {
        val e = intercept[Exception](
          spark.sql(s"SELECT k FROM $cat.dv").collect())
        val msg = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString("\n")
        assert(msg.contains(s"$cat.dv") &&
          msg.contains("GraftReadSubstitution"), msg)
      } finally exp.extraOptimizations = saved
    }
  }

  test("VERSION AS OF reads of a deletion-vector and a hidden-" +
    "partitioned snapshot are substituted and serve the user schema") {
    withTables { (cat, wh) =>
      Seq("dv", "hp").foreach { name =>
        val t = new LogTable(s"$wh/$name")
        val v = t.currentVersion.get
        t.append(Seq((100L, "later")).toDF("k", "v"))
        val df = spark.sql(s"SELECT * FROM $cat.$name VERSION AS OF $v")
        assert(!df.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[DataSourceV2ScanRelation]),
          s"$name VERSION AS OF $v was not substituted")
        assert(df.schema.fieldNames.toSeq == Seq("k", "v"), name)
        assert(df.schema.map(f => f.name -> f.dataType) ==
          t.userSchemaAt(v).map(f => f.name -> f.dataType), name)
        assert(df.as[(Long, String)].collect().toSeq.sorted ==
          rowsOf(t, Some(v)), name)
        // the pinned read inside a write command substitutes too
        val ctas = executedPlans {
          spark.sql(s"CREATE TABLE $cat.${name}_pinned USING log AS " +
            s"SELECT * FROM $cat.$name VERSION AS OF $v")
        }
        assert(rowsOf(new LogTable(s"$wh/${name}_pinned")) ==
          rowsOf(t, Some(v)), name)
        assert(ctas.nonEmpty && rowScans(ctas).isEmpty,
          s"$name pinned CTAS read row by row:\n${ctas.mkString("\n")}")
      }
    }
  }

  test("a query resolved before a column is added still reads the " +
    "deletion-vector table under the columns it resolved") {
    withTables { (cat, wh) =>
      val dv = new LogTable(s"$wh/dv")
      val df = spark.sql(s"SELECT * FROM $cat.dv")
      df.queryExecution.analyzed
      dv.addColumns(Seq(StructField("extra", StringType)))
      assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
      assert(df.as[(Long, String)].collect().toSeq.sorted ==
        rowsOf(dv))
    }
  }

  test("a deletion-vector table whose logged schema has non-null " +
    "nested types reads by SELECT * and by VERSION AS OF") {
    withTables { (cat, wh) =>
      // a Seq, a Map and a struct of literals log non-null array
      // elements, map values and struct fields; parquet reads them
      // back nullable
      val t = new LogTable(s"$wh/nested")
      t.append((1L to 8L).map(i => (i, Seq(i.toInt, 0), Map("n" -> i)))
        .toDF("k", "xs", "m")
        .withColumn("s", struct(lit(1).as("one"), col("k").as("k2")))
        .repartition(2))
      t.deleteMor(spark, col("k") % 4 === 0L)
      assert(t.liveAdds().exists(_.dv.isDefined))
      val v = t.currentVersion.get
      val xsType = t.userSchemaAt(v)("xs").dataType
      assert(!xsType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .containsNull, xsType)
      val want = Seq(1L, 2L, 3L, 5L, 6L, 7L)
        .map(i => (i, Seq(i.toInt, 0), Map("n" -> i), 1, i))
      Seq(s"SELECT * FROM $cat.nested",
          s"SELECT * FROM $cat.nested VERSION AS OF $v").foreach { q =>
        val got = spark.sql(q)
          .select(col("k"), col("xs"), col("m"), col("s.one"), col("s.k2"))
          .as[(Long, Seq[Int], Map[String, Long], Int, Long)]
          .collect().toSeq.sortBy(_._1)
        assert(got == want, q)
      }
    }
  }

  test("row-level DML keeps its DSv2 target while a deletion-vector " +
    "MERGE source still reads only its live rows") {
    withTables { (cat, wh) =>
      spark.sql(s"CREATE TABLE $cat.tgt (k BIGINT, v STRING) USING log")
      spark.sql(s"INSERT INTO $cat.tgt VALUES (1, 'old'), (4, 'old')")
      spark.sql(s"""MERGE INTO $cat.tgt t USING $cat.dv s ON t.k = s.k
                    WHEN MATCHED THEN UPDATE SET v = s.v
                    WHEN NOT MATCHED THEN INSERT *""")
      // key 4 was vectored out of the source: it neither matches nor
      // inserts, so the target keeps its own row
      val want = (rowsOf(new LogTable(s"$wh/dv")) :+ (4L, "old")).sorted
      assert(rowsOf(new LogTable(s"$wh/tgt")) == want)
      // an UPDATE of the deletion-vector table itself still dispatches
      spark.sql(s"UPDATE $cat.dv SET v = 'u' WHERE k <= 8")
      assert(spark.sql(s"SELECT k FROM $cat.dv WHERE v = 'u'").as[Long]
        .collect().toSeq.sorted == Seq(1L, 2L, 3L, 5L, 6L, 7L))
    }
  }
}
