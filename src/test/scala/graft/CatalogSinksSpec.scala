package graft

import graft.sources.{GraftTableCatalog, LogTable, SqlMerge}
import org.apache.spark.sql.functions._

/** Storage surfaces on the one table substrate: catalog-addressable
  * log tables, MERGE at file granularity, and TIMESTAMP-AS-OF time
  * travel. */
class CatalogSinksSpec extends SparkSpec {
  import spark.implicits._

  private val targetRows = Seq((1L, "alpha", 1L), (2L, "beta", 2L),
    (3L, "gamma", 3L))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Fresh catalog name per test: Spark caches plugin instances per
    * name, so a shared name would pin the first test's warehouse. */
  private var n = 0
  private def freshCatalog(warehouse: String): String = {
    n += 1
    val cat = s"csink_$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    cat
  }

  // ---- catalog names ---------------------------------------------------

  test("register surfaces the sink snapshot under a catalog name") {
    val wh = tmp("cat")
    new LogTable(s"$wh/cat_dim_a").overwrite(targetRows.toDF("k", "v", "n"))
    val cat = freshCatalog(wh)
    val bySelect = spark.sql(s"SELECT k, v, n FROM $cat.cat_dim_a ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq
    assert(bySelect == targetRows)
    assert(spark.table(s"$cat.cat_dim_a").count() == 3)
    spark.sql(s"DROP TABLE $cat.cat_dim_a")
    assert(!spark.catalog.tableExists(s"$cat.cat_dim_a"))
  }

  test("MERGE INTO resolves the target by its statement name and " +
    "refreshes the view") {
    val wh = tmp("cat")
    new LogTable(s"$wh/cat_dim_b").overwrite(targetRows.toDF("k", "v", "n"))
    val cat = freshCatalog(wh)
    Seq((2L, "beta2", 20L), (4L, "delta", 40L))
      .toDF("k", "v", "n").createOrReplaceTempView("cat_updates")
    spark.sql(
      s"""MERGE INTO $cat.cat_dim_b t USING cat_updates s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
          WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)
          WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN DELETE""")
    // the by-name read sees the merged snapshot
    val after = spark.sql(s"SELECT k, v FROM $cat.cat_dim_b ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(after == Seq((2L, "beta2"), (3L, "gamma"), (4L, "delta")))
    // and the pre-merge version stays time-travel-readable
    assert(spark.sql(s"SELECT * FROM $cat.cat_dim_b VERSION AS OF 0")
      .count() == 3)
  }

  test("MERGE INTO an unregistered name fails with a clear error") {
    val cat = freshCatalog(tmp("cat"))
    Seq((1L, "x", 1L)).toDF("k", "v", "n")
      .createOrReplaceTempView("cat_updates")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        s"""MERGE INTO $cat.nope t USING cat_updates s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.v""")
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  // ---- file-granularity MERGE ------------------------------------------

  private def mergeSql(view: String) =
    s"""MERGE INTO dim t USING $view s ON t.k = s.k
        WHEN MATCHED AND s.n >= 30 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
        WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)"""

  private def rowsOf(log: LogTable): Seq[(Long, String, Long)] =
    log.load(spark).orderBy("k").as[(Long, String, Long)].collect().toSeq

  test("mergeLog read-back equals the in-memory mergeFrames result") {
    Seq((2L, "beta2", 20L), (3L, "gone", 30L), (4L, "delta", 40L))
      .toDF("k", "v", "n").createOrReplaceTempView("log_upd")
    val log = new LogTable(s"${tmp("mlog")}/dim")
    log.overwrite(targetRows.toDF("k", "v", "n"))
    val res = SqlMerge.mergeLog(spark, mergeSql("log_upd"), log)
    assert(res == SqlMerge.MergeResult(updated = 1, deleted = 1,
      inserted = 1, unchanged = 1))
    val inMemory = SqlMerge.mergeFrames(spark, mergeSql("log_upd"),
      targetRows.toDF("k", "v", "n"))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(rowsOf(log) == inMemory)
    assert(inMemory == Seq((1L, "alpha", 1L), (2L, "beta2", 20L),
      (4L, "delta", 40L)))
  }

  test("patches stack: the latest action per key wins across commits") {
    val log = new LogTable(s"${tmp("mlog")}/dim")
    log.overwrite(targetRows.toDF("k", "v", "n"))
    Seq((2L, "beta2", 20L)).toDF("k", "v", "n")
      .createOrReplaceTempView("log_p1")
    SqlMerge.mergeLog(spark,
      s"""MERGE INTO dim t USING log_p1 s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n""", log)
    Seq((2L, "x", 99L)).toDF("k", "v", "n")
      .createOrReplaceTempView("log_p2")
    SqlMerge.mergeLog(spark,
      s"""MERGE INTO dim t USING log_p2 s ON t.k = s.k
          WHEN MATCHED AND s.n = 99 THEN DELETE""", log)
    assert(log.versions == Seq(0L, 1L, 2L))
    // merge 1 updated k=2, merge 2 deleted it — the delete wins
    assert(rowsOf(log) == Seq((1L, "alpha", 1L), (3L, "gamma", 3L)))
    assert(log.load(spark, Some(1L)).filter(col("k") === 2L)
      .select("v").as[String].collect().toSeq == Seq("beta2"))
  }

  test("insert-only and delete-only patches survive empty patch halves") {
    val log = new LogTable(s"${tmp("mlog")}/dim")
    log.overwrite(targetRows.toDF("k", "v", "n"))
    Seq((7L, "eta", 70L)).toDF("k", "v", "n")
      .createOrReplaceTempView("log_ins")
    SqlMerge.mergeLog(spark,
      s"""MERGE INTO dim t USING log_ins s ON t.k = s.k
          WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""",
      log) // no target file is touched
    Seq((1L, "-", 0L)).toDF("k", "v", "n")
      .createOrReplaceTempView("log_del")
    SqlMerge.mergeLog(spark,
      s"""MERGE INTO dim t USING log_del s ON t.k = s.k
          WHEN MATCHED THEN DELETE""", log) // nothing is inserted
    assert(rowsOf(log) == Seq((2L, "beta", 2L), (3L, "gamma", 3L),
      (7L, "eta", 70L)))
  }

  test("a small merge writes ∝ delta, not ∝ table; compact folds it") {
    // base: 10k rows in 8 key-contiguous files; merge: a 3-row change
    // set — only the file holding k=1,2 is rewritten, plus one file
    // for the insert, a small fraction of the table's bytes
    val log = new LogTable(s"${tmp("mlog")}/dim")
    log.overwrite(spark.range(0L, 10000L, 1L, 8)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
        col("id").as("n")))
    val base = log.liveAdds()
    Seq((1L, "one", 1L), (2L, "two", 2L), (20000L, "new", 0L))
      .toDF("k", "v", "n").createOrReplaceTempView("log_small")
    SqlMerge.mergeLog(spark,
      s"""MERGE INTO dim t USING log_small s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
          WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""",
      log)
    val basePaths = base.map(_.path).toSet
    val written = log.liveAdds().filterNot(a => basePaths(a.path))
    val baseBytes = base.map(_.bytes).sum
    val mergeBytes = written.map(_.bytes).sum
    assert(mergeBytes > 0 && mergeBytes < baseBytes / 4,
      s"merge=$mergeBytes base=$baseBytes — merge should be ≪ base")
    assert(log.liveAdds().count(a => basePaths(a.path)) == base.size - 1)
    val before = rowsOf(log)
    log.compactFiles(spark)
    assert(log.liveAdds().size == 1)
    val after = rowsOf(log)
    assert(after == before)
    assert(after.length == 10001 && after.head == ((0L, "v0", 0L)))
    assert(after.contains((1L, "one", 1L)) && after.last == ((20000L, "new", 0L)))
  }

  // ---- TIMESTAMP AS OF time travel -----------------------------------

  test("versionAt resolves exact, between, and after timestamps") {
    val ticks = Iterator(1000L, 2000L, 3000L)
    val log = new LogTable(s"${tmp("tt")}/dim", () => ticks.next())
    log.overwrite(Seq((1L, "v0")).toDF("k", "tag"))
    log.overwrite(Seq((1L, "v1")).toDF("k", "tag"))
    log.overwrite(Seq((1L, "v2")).toDF("k", "tag"))
    assert(log.commitTime(0L) == 1000L)
    def tagAt(ts: Long): String = log.load(spark, Some(log.versionAt(ts)))
      .select("tag").as[String].head()
    assert(tagAt(1000L) == "v0") // exact boundary: inclusive
    assert(tagAt(1999L) == "v0") // between commits → then-current
    assert(tagAt(2000L) == "v1")
    assert(tagAt(2500L) == "v1")
    assert(tagAt(9999L) == "v2") // after the last commit → current
    val e = intercept[IllegalArgumentException] { log.versionAt(999L) }
    assert(e.getMessage.contains("no committed version"))
  }
}
