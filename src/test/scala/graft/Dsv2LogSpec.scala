package graft

import graft.sources.{GraftTableCatalog, LogTable}
import org.apache.spark.sql.functions._

/** The transaction-log table's SQL DML surface through the DSv2
  * catalog: INSERT INTO / INSERT OVERWRITE / DELETE FROM / CTAS /
  * time travel — the by-name read-write contract the reference's
  * users have on Delta tables. */
class Dsv2LogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private var n = 0
  private def freshCatalog(warehouse: String): String = {
    n += 1
    val cat = s"g2l_$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    cat
  }

  test("CREATE TABLE USING log + INSERT INTO appends; SELECT reads " +
    "the union; prior files carry by reference") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
    val log = new LogTable(s"$wh/t")
    val firstFiles = log.liveAdds().map(_.path).toSet
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 'c')")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(firstFiles.subsetOf(log.liveAdds().map(_.path).toSet))
    assert(log.commitOp(log.currentVersion.get) == "append")
  }

  test("INSERT OVERWRITE replaces the snapshot; the old version " +
    "stays time-travelable") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a')")
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9, 'z')")
    assert(spark.sql(s"SELECT k, v FROM $cat.t")
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(spark.sql(s"SELECT k, v FROM $cat.t VERSION AS OF 1")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("DELETE FROM by name: stats-pruned file rewrite, null-safe " +
    "semantics") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) USING log")
    // two single-file commits with disjoint ranges
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.t VALUES (10, 'c'), (11, NULL)")
    val log = new LogTable(s"$wh/t")
    val lowFile = log.liveAdds().find(_.stats("k").max.contains(2L)).get.path
    spark.sql(s"DELETE FROM $cat.t WHERE k = 10")
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L, 11L))
    // the low-range file was never rewritten
    assert(log.liveAdds().map(_.path).contains(lowFile))
    assert(log.commitOp(log.currentVersion.get) == "delete")
    // DELETE with a predicate that is NULL for the NULL row keeps it
    spark.sql(s"DELETE FROM $cat.t WHERE v = 'zzz'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 3L)
  }

  test("CTAS: CREATE TABLE ... USING log AS SELECT lands the query " +
    "result as the first commits") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE $cat.c USING log AS SELECT * FROM ctas_src")
    assert(spark.sql(s"SELECT k, v FROM $cat.c ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("TIMESTAMP AS OF resolves log commit wall-clocks") {
    val wh = tmp("dsv2log")
    val ticks = Iterator(1000L, 2000L, 3000L)
    val log = new LogTable(s"$wh/t", () => ticks.next())
    log.append(Seq((1L, "a")).toDF("k", "v"))
    log.append(Seq((2L, "b")).toDF("k", "v"))
    log.delete(spark, col("k") === 1L)
    val cat = freshCatalog(wh)
    def at(millis: Long): Seq[Long] =
      spark.sql(s"SELECT k FROM $cat.t " +
          s"TIMESTAMP AS OF timestamp_micros(${millis * 1000}L) ORDER BY k")
        .as[Long].collect().toSeq
    assert(at(1500L) == Seq(1L))
    assert(at(2500L) == Seq(1L, 2L))
    assert(at(9999L) == Seq(2L))
  }

  test("log reads push filters and pruning into the parquet scan") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
    val plan = spark.sql(s"SELECT k FROM $cat.t WHERE k = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(k)"),
      s"expected pushdown through the log-table scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint>"),
      s"expected pruning to drop v:\n$plan")
  }

  test("SHOW TABLES lists sinks and log tables side by side; DROP " +
    "removes a log table") {
    val wh = tmp("dsv2log")
    // one table written through the API, one created by SQL
    new LogTable(s"$wh/dim").overwrite(Seq((1L, "a")).toDF("k", "v"))
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) USING log")
    val listed = spark.sql(s"SHOW TABLES IN $cat").select("tableName")
      .as[String].collect().toSet
    assert(listed == Set("dim", "t"))
    spark.sql(s"DROP TABLE $cat.t")
    assert(spark.sql(s"SHOW TABLES IN $cat").count() == 1)
  }

  test("PARTITIONED BY (col) USING log: inserts land hive-style and " +
    "a partition predicate prunes the scan to matching files only") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING, region STRING) " +
      "USING log PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a', 'eu'), (2, 'b', 'us'), " +
      "(3, 'c', 'eu')")
    spark.sql(s"INSERT INTO $cat.t VALUES (4, 'd', 'ap')")
    val log = new LogTable(s"$wh/t")
    assert(log.partitionCols == Seq("region"))
    // files live under hive dirs and the add actions carry the values
    assert(log.liveAdds().nonEmpty)
    log.liveAdds().foreach { a =>
      assert(a.path.matches("data/region=(eu|us|ap)/.*\\.parquet"), a.path)
      assert(a.partitionValues.keySet == Set("region"), a)
    }
    val q = spark.sql(s"SELECT k, v FROM $cat.t WHERE region = 'eu' " +
      "ORDER BY k")
    assert(q.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c")))
    // reader-side partition pruning: the filter became a
    // PartitionFilter and only region=eu files are scheduled
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = finalPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    val planned = scan.scan.toBatch.planInputPartitions().flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.urlEncodedPath)
    }
    assert(planned.nonEmpty && planned.forall(_.contains("region=eu")),
      s"expected only region=eu files scheduled, got:\n" +
        planned.mkString("\n"))
    assert(scan.toString.contains("region"),
      s"expected the partition predicate on the scan:\n$scan")
  }

  test("partitioned log DML: DELETE on a partition predicate " +
    "rewrites only that partition's files") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, region STRING) USING log " +
      "PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    val log = new LogTable(s"$wh/t")
    val euFiles = log.liveAdds()
      .filter(_.partitionValues("region") == "eu").map(_.path).toSet
    val usFiles = log.liveAdds()
      .filter(_.partitionValues("region") == "us").map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.t WHERE region = 'eu' AND k = 1")
    val after = log.liveAdds().map(_.path).toSet
    // the us partition's files carried forward by reference
    assert(usFiles.subsetOf(after))
    assert((after & euFiles).size < euFiles.size) // an eu file rewrote
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // time travel across the partitioned history
    assert(spark.sql(s"SELECT k FROM $cat.t VERSION AS OF 1 ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("CTAS and MERGE INTO work on partitioned log tables") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    Seq((1L, "init", "eu"), (2L, "init", "us")).toDF("k", "v", "region")
      .createOrReplaceTempView("part_ctas_src")
    spark.sql(s"CREATE TABLE $cat.t USING log PARTITIONED BY (region) " +
      "AS SELECT * FROM part_ctas_src")
    val log = new LogTable(s"$wh/t")
    assert(log.partitionCols == Seq("region"))
    log.liveAdds().foreach(a =>
      assert(a.path.matches("data/region=(eu|us)/.*"), a.path))
    Seq((2L, "upd", "us"), (3L, "new", "ap")).toDF("k", "nv", "nregion")
      .createOrReplaceTempView("part_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING part_merge_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.nv
          WHEN NOT MATCHED THEN
            INSERT (k, v, region) VALUES (s.k, s.nv, s.nregion)""")
    assert(spark.sql(s"SELECT k, v, region FROM $cat.t ORDER BY k")
      .as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "init", "eu"), (2L, "upd", "us"), (3L, "new", "ap")))
    // the merged layout stays hive-partitioned
    log.liveAdds().foreach(a =>
      assert(a.path.matches("data/region=(eu|us|ap)/.*"), a.path))
    // an empty-result partition predicate on a fresh empty table
    spark.sql(s"CREATE TABLE $cat.empty (k BIGINT, p STRING) USING log " +
      "PARTITIONED BY (p)")
    assert(spark.sql(s"SELECT * FROM $cat.empty WHERE p = 'x'").count() == 0L)
  }

  test("VERSION AS OF serves the snapshot's own schema, not the " +
    "evolved one") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a')") // v1: (k, v)
    val log = new LogTable(s"$wh/t")
    log.append(Seq((2L, "b", 9L)).toDF("k", "v", "extra"),
      mergeSchema = true) // v2: (k, v, extra)
    assert(spark.table(s"$cat.t").columns.toSeq ==
      Seq("k", "v", "extra"))
    // the pinned read shows v1's column set, matching LogTable.load
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("native SQL UPDATE: spark.sql(\"UPDATE cat.t SET ...\") " +
    "dispatches to the stats-pruned row-level update") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING, bal DOUBLE) " +
      "USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a', -5.0), (2, 'b', 3.0)")
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 'c', -1.0)")
    spark.sql(s"UPDATE $cat.t SET bal = 0.0, v = concat(v, '!') " +
      "WHERE bal < 0")
    assert(spark.sql(s"SELECT k, v, bal FROM $cat.t ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a!", 0.0), (2L, "b", 3.0), (3L, "c!", 0.0)))
    val log = new LogTable(s"$wh/t")
    assert(log.commitOp(log.currentVersion.get) == "update")
    // the update's change feed recorded pre/post images
    assert(log.changes(spark, log.currentVersion.get - 1,
      log.currentVersion.get)
      .filter(col("_change_type") === "update_postimage").count() == 2L)
  }

  test("native SQL MERGE: spark.sql(\"MERGE INTO cat.t ...\") " +
    "dispatches to the file-granularity merge-on-write") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'init'), (2, 'init')")
    Seq((2L, "upd"), (3L, "new")).toDF("k", "nv")
      .createOrReplaceTempView("native_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING native_merge_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.nv
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "init"), (2L, "upd"), (3L, "new")))
    val log = new LogTable(s"$wh/t")
    assert(log.commitOp(log.currentVersion.get) == "merge")
  }

  test("writes to a pinned historic version are rejected") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    val err = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.t VERSION AS OF 0 VALUES (2)"))
    assert(err.getMessage.toLowerCase.contains("does not support")
      || err.getMessage.toLowerCase.contains("unsupported")
      || err.getMessage.toLowerCase.contains("parse"),
      s"unexpected: ${err.getMessage}")
  }

  test("write-audit-publish entirely in SQL: stage on " +
    "cat.t__branch_wap, audit, CALL merge_branch publishes; main " +
    "never sees unaudited rows") {
    val wh = tmp("dsv2log")
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) USING log")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"CALL $cat.create_branch('t', 'wap')")
    // STAGE: full DML against the branch-addressed name
    spark.sql(s"INSERT INTO $cat.t__branch_wap VALUES " +
      "(3, 'c'), (4, 'BAD'), (5, 'e')")
    spark.sql(s"DELETE FROM $cat.t__branch_wap WHERE v = 'BAD'")
    spark.sql(s"UPDATE $cat.t__branch_wap SET v = 'C' WHERE k = 3")
    // main is untouched while the branch carries the staged state
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head.getLong(0)
      == 2L)
    // AUDIT on the branch name (same table as VERSION AS OF 'wap')
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t__branch_wap " +
      "WHERE v = 'BAD'").head.getLong(0) == 0L)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 'wap'")
      .head.getLong(0) == 4L)
    // PUBLISH
    spark.sql(s"CALL $cat.merge_branch('t', 'wap')")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "C"), (5L, "e")))
    // the staging name resolves only while the ref lives
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t__branch_wap").collect()
    }
    // maintenance CALLs accept the branch-addressed name too
    spark.sql(s"CALL $cat.create_branch('t', 'wap2')")
    spark.sql(s"INSERT INTO $cat.t__branch_wap2 VALUES (9, 'z')")
    val hist = spark.sql(s"CALL $cat.history('t__branch_wap2')")
      .collect()
    assert(hist.nonEmpty)
  }
}
