package graft

import graft.sources.LogTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CHECK constraints on the transaction-log table: enforced inside
  * the commit-time stats aggregate (zero extra scans), Delta
  * semantics — NULL passes, a provably-FALSE row refuses the whole
  * commit; ALTER-style add validates existing data first; drop is
  * metadata-only; the config rides log replay and checkpoints. */
class LogConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logck").toString

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("bal", DoubleType)))

  test("a violating append refuses the WHOLE commit and leaks no " +
    "staging; a valid append lands; NULL passes") {
    val t = new LogTable(s"${tmp()}/t")
    t.create(schema, checkConstraints = Map("bal_nonneg" -> "bal >= 0"))
    t.append(Seq((1L, 10.0), (2L, 0.0)).toDF("k", "bal"))
    val before = t.currentVersion
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((3L, 5.0), (4L, -1.0)).toDF("k", "bal"))
    }
    assert(e.getMessage.contains("bal_nonneg"))
    assert(t.currentVersion == before) // nothing committed
    assert(new java.io.File(t.path, "_staging").listFiles().isEmpty)
    assert(t.load(spark).count() == 2L)
    // NULL passes (SQL CHECK semantics)
    t.append(Seq((5L, Option.empty[Double])).toDF("k", "bal"))
    assert(t.load(spark).count() == 3L)
  }

  test("addCheckConstraint validates existing rows first; drop " +
    "re-allows; both are metadata-only commits") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, 10.0), (2L, -5.0)).toDF("k", "bal"))
    val bad = intercept[IllegalArgumentException] {
      t.addCheckConstraint(spark, "bal_nonneg", "bal >= 0")
    }
    assert(bad.getMessage.contains("existing row"))
    t.delete(spark, col("bal") < 0)
    val v = t.addCheckConstraint(spark, "bal_nonneg", "bal >= 0")
    assert(t.commitOp(v) == "constraint")
    assert(t.checkConstraints == Map("bal_nonneg" -> "bal >= 0"))
    intercept[IllegalArgumentException] {
      t.append(Seq((9L, -1.0)).toDF("k", "bal"))
    }
    t.dropCheckConstraint("bal_nonneg")
    t.append(Seq((9L, -1.0)).toDF("k", "bal"))
    assert(t.load(spark).count() == 2L)
  }

  test("UPDATE rewrites violating the constraint refuse — both " +
    "copy-on-write and merge-on-read post-images") {
    val t = new LogTable(s"${tmp()}/t")
    t.create(schema, checkConstraints = Map("bal_nonneg" -> "bal >= 0"))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal"))
    val before = t.currentVersion
    intercept[IllegalArgumentException] {
      t.update(spark, col("k") === 1L, Map("bal" -> lit(-7.0)))
    }
    intercept[IllegalArgumentException] {
      t.updateMor(spark, col("k") === 2L, Map("bal" -> lit(-7.0)))
    }
    assert(t.currentVersion == before)
    assert(t.load(spark).agg(min("bal")).as[Double].head() == 10.0)
    // neither refusal leaves its change feed or vector dir behind
    assert(entriesUnder(t.path, "_cdf").isEmpty, entriesUnder(t.path, "_cdf"))
    assert(entriesUnder(t.path, "_dv").isEmpty, entriesUnder(t.path, "_dv"))
    // a legal update still lands
    t.update(spark, col("k") === 1L, Map("bal" -> lit(0.0)))
    assert(t.load(spark).agg(min("bal")).as[Double].head() == 0.0)
  }

  test("ADD CONSTRAINT racing a violating append re-validates and " +
    "refuses — the table can never end up violating its own " +
    "active constraint") {
    val dir = s"${tmp()}/t"
    val other = new LogTable(dir)
    other.append(Seq((1L, 10.0)).toDF("k", "bal"))
    // the moment the constraint commit tries to claim its slot, a
    // violating append lands first; without the head-pin the
    // constraint would commit on top of data it never validated
    @volatile var raced = false
    val coord = new graft.sources.LogCommitCoordinator {
      override def claim(t: java.io.File, target: java.io.File): Boolean = {
        if (!raced) {
          raced = true
          other.append(Seq((2L, -5.0)).toDF("k", "bal"))
        }
        graft.sources.LocalFsCommitCoordinator.claim(t, target)
      }
    }
    val ct = new LogTable(dir, coordinator = coord)
    val e = intercept[IllegalArgumentException] {
      ct.addCheckConstraint(spark, "bal_nonneg", "bal >= 0")
    }
    assert(e.getMessage.contains("existing row"))
    assert(other.checkConstraints.isEmpty) // nothing half-committed
  }

  test("constraints survive checkpointed replay and a fresh instance") {
    val t = new LogTable(s"${tmp()}/t", checkpointInterval = 3)
    t.create(schema, checkConstraints = Map("k_pos" -> "k > 0"))
    (1 to 5).foreach(i => t.append(Seq((i.toLong, 1.0)).toDF("k", "bal")))
    val t2 = new LogTable(t.path)
    assert(t2.checkConstraints == Map("k_pos" -> "k > 0"))
    intercept[IllegalArgumentException] {
      t2.append(Seq((0L, 1.0)).toDF("k", "bal"))
    }
  }

  test("a streaming tail passes over constraint commits silently") {
    val dir = tmp()
    val t = new LogTable(s"$dir/t")
    t.append(Seq((1L, 1.0)).toDF("k", "bal"))
    t.addCheckConstraint(spark, "k_pos", "k > 0")
    t.append(Seq((2L, 2.0)).toDF("k", "bal"))
    val q = spark.readStream
      .format(classOf[graft.sources.LogStreamProvider].getName)
      .option("path", t.path).load()
      .writeStream.format("memory").queryName("ck_tail")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("ck_tail").select("k").as[Long]
      .collect().toSet == Set(1L, 2L))
  }

  test("ADD CONSTRAINT on a nonexistent table refuses instead of " +
    "bricking the path: no version 0 is written, create() still works") {
    val dir = s"${tmp()}/typo"
    val t = new LogTable(dir)
    intercept[IllegalStateException] {
      t.addCheckConstraint(spark, "c", "bal >= 0")
    }
    assert(t.currentVersion.isEmpty) // nothing committed
    // the path is untouched — a real create proceeds normally
    t.create(schema)
    t.append(Seq((1L, 1.0)).toDF("k", "bal"))
    assert(t.load(spark).count() == 1L)
  }
}
