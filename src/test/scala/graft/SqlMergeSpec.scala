package graft

import graft.sources.{LogTable, SqlMerge}
import org.apache.spark.sql.functions._

class SqlMergeSpec extends SparkSpec {
  import spark.implicits._

  private def seedViews(): Unit = {
    Seq((2L, "beta2", 20L), (3L, "gamma", 30L), (4L, "delta", 40L),
      (5L, (null: String), 50L))
      .toDF("k", "v", "n").createOrReplaceTempView("updates")
  }

  private val targetRows = Seq((1L, "alpha", 1L), (2L, "beta", 2L),
    (3L, "gamma", 3L))

  test("MERGE upsert: update matched, insert new, keep untouched") {
    seedViews()
    val target = targetRows.toDF("k", "v", "n")
    val out = SqlMerge.mergeFrames(spark,
      """MERGE INTO dim t USING updates s ON t.k = s.k
         WHEN MATCHED AND t.v <> s.v THEN UPDATE SET v = s.v, n = s.n
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""",
      target)
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "alpha", 1L),   // untouched (not matched by source, no action)
      (2L, "beta2", 20L),  // matched + changed → updated
      (3L, "gamma", 3L),   // matched, condition false → unchanged
      (4L, "delta", 40L),  // not matched → inserted
      (5L, null, 50L)))    // not matched → inserted (null v flows in)
  }

  test("MERGE action order: first matching WHEN clause wins") {
    seedViews()
    val target = targetRows.toDF("k", "v", "n")
    val out = SqlMerge.mergeFrames(spark,
      """MERGE INTO dim t USING updates s ON t.k = s.k
         WHEN MATCHED AND s.n >= 30 THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED AND s.v IS NOT NULL THEN
           INSERT (k, v, n) VALUES (s.k, s.v, s.n)""",
      target)
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    // k=3 deleted (n=30 hits the first clause before the update),
    // k=2 updated, k=4 inserted, k=5 skipped (insert condition false)
    assert(out == Seq((1L, "alpha", 1L), (2L, "beta2", 2L),
      (4L, "delta", 40L)))
  }

  test("MERGE full-snapshot delete quadrant via NOT MATCHED BY SOURCE") {
    seedViews()
    val target = targetRows.toDF("k", "v", "n")
    val out = SqlMerge.mergeFrames(spark,
      """MERGE INTO dim t USING updates s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)
         WHEN NOT MATCHED BY SOURCE THEN DELETE""",
      target)
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    // the snapshot IS the source now: k=1 (absent there) is deleted
    assert(out.map(_._1) == Seq(2L, 3L, 4L, 5L))
  }

  test("MERGE insert without full column list null-fills ANSI-style") {
    seedViews()
    val target = targetRows.toDF("k", "v", "n")
    val out = SqlMerge.mergeFrames(spark,
      """MERGE INTO dim t USING updates s ON t.k = s.k
         WHEN NOT MATCHED THEN INSERT (k, n) VALUES (s.k, s.n)""",
      target)
      .orderBy("k").collect()
    val k4 = out.find(_.getLong(0) == 4L).get
    assert(k4.isNullAt(1) && k4.getLong(2) == 40L)
  }

  test("MERGE cardinality violation raises, state uncommitted") {
    Seq((2L, "x", 1L), (2L, "y", 2L)).toDF("k", "v", "n")
      .createOrReplaceTempView("updates")
    val target = targetRows.toDF("k", "v", "n")
    val e = intercept[IllegalStateException] {
      SqlMerge.mergeFrames(spark,
        """MERGE INTO dim t USING updates s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v""", target)
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("MERGE through a LogTable: atomic commit + time travel") {
    seedViews()
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val log = new LogTable(s"$dir/dim")
    log.overwrite(targetRows.toDF("k", "v", "n"))
    val res = SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING updates s ON t.k = s.k
         WHEN MATCHED AND t.v <> s.v THEN UPDATE SET v = s.v, n = s.n
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""",
      log)
    assert(res == SqlMerge.MergeResult(updated = 1, deleted = 0,
      inserted = 2, unchanged = 2))
    // committed: v1 is current, v0 (pre-merge) stays readable
    assert(log.currentVersion.contains(1L))
    assert(log.load(spark).count() == 5)
    assert(log.load(spark, Some(0L)).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq == targetRows)
  }

  test("MERGE UPDATE * / INSERT * star forms assign by name") {
    seedViews()
    val target = targetRows.toDF("k", "v", "n")
    val out = SqlMerge.mergeFrames(spark,
      """MERGE INTO dim t USING updates s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""",
      target)
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "alpha", 1L), (2L, "beta2", 20L),
      (3L, "gamma", 30L), (4L, "delta", 40L), (5L, null, 50L)))
  }

  test("MERGE rejects assignments to unknown target columns") {
    seedViews()
    val target = targetRows.toDF("k", "v", "n")
    val e = intercept[IllegalArgumentException] {
      SqlMerge.mergeFrames(spark,
        """MERGE INTO dim t USING updates s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET wrong_col = s.v""", target)
    }
    assert(e.getMessage.contains("wrong_col"))
  }

  test("MERGE with an empty source leaves the target intact") {
    Seq.empty[(Long, String, Long)].toDF("k", "v", "n")
      .createOrReplaceTempView("updates")
    val target = targetRows.toDF("k", "v", "n")
    val out = SqlMerge.mergeFrames(spark,
      """MERGE INTO dim t USING updates s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""",
      target)
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out == targetRows)
  }

  test("reference-shaped SCD2 close merge (Load & SCD-Merge.py form)") {
    // the reference's MERGE: matched + changed current rows are
    // CLOSED (IsCurrent=false, valid_to=now); the new versions are
    // inserted by a separate step. Express the close exactly.
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val now = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    Seq((1L, "moved"), (2L, "same-attr"))
      .toDF("k", "attr").createOrReplaceTempView("updates")
    val dim = Seq(
      (1L, "old-attr", ts0, (null: java.sql.Timestamp), true),
      (2L, "same-attr", ts0, (null: java.sql.Timestamp), true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val closed = SqlMerge.mergeFrames(spark,
      s"""MERGE INTO dim t USING updates s
          ON t.k = s.k AND t.is_current = true
          WHEN MATCHED AND t.attr <> s.attr THEN
            UPDATE SET is_current = false,
                       valid_to = TIMESTAMP '2024-06-01 00:00:00'""",
      dim)
      .orderBy("k")
      .as[(Long, String, java.sql.Timestamp, java.sql.Timestamp, Boolean)]
      .collect().toSeq
    assert(closed == Seq(
      (1L, "old-attr", ts0, now, false), // changed → closed
      (2L, "same-attr", ts0, null, true))) // unchanged → stays current
  }
}
