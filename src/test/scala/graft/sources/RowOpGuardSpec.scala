package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row-level op guards: a merge-on-read UPDATE commits exactly its
  * matched rows as post-images (staged once, before the change feed
  * grows), and every DML shape refuses a non-deterministic predicate
  * or SET expression before writing anything. */
class RowOpGuardSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_rowopguard").toString

  private def table(): LogTable = {
    val t = new LogTable(s"${tmp()}/t")
    t.append((1L to 12L).map(k => (k, s"v$k")).toDF("k", "v").repartition(2))
    t
  }

  test("updateMor commits exactly the matched rows as post-images, and " +
    "the feed's post-images are those rows") {
    val t = table()
    val before = t.liveAdds().map(_.path).toSet
    val r = t.updateMor(spark, col("k") <= 5L,
      Map("v" -> concat(col("v"), lit("!"))))
    assert(r.rowsAffected == 5L)
    val posted = t.addedFiles(r.version).filterNot(a => before(a.path))
    assert(posted.map(_.rows).sum == 5L)
    assert(t.load(spark).count() == 12L)
    val feed = t.changes(spark, r.version - 1, r.version)
      .filter(col("_change_type") === "update_postimage")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(feed == (1L to 5L).map(k => (k, s"v$k!")).toSet)
    assert(new File(t.path, "_staging").listFiles().isEmpty)
  }

  test("update, updateMor, delete and deleteMor refuse a " +
    "non-deterministic predicate or SET expression before writing") {
    val t = table()
    val v0 = t.currentVersion
    def cdfDirs = Option(new File(t.path, "_cdf").listFiles())
      .map(_.length).getOrElse(0)
    val cdf0 = cdfDirs
    val refusals: Seq[(String, () => Any)] = Seq(
      "update pred" -> (() => t.update(spark, rand() < 0.5,
        Map("v" -> lit("x")))),
      "update set" -> (() => t.update(spark, col("k") === 1L,
        Map("v" -> rand().cast("string")))),
      "updateMor pred" -> (() => t.updateMor(spark, rand() < 0.5,
        Map("v" -> lit("x")))),
      "updateMor set" -> (() => t.updateMor(spark, col("k") === 1L,
        Map("v" -> rand().cast("string")))),
      "delete pred" -> (() => t.delete(spark, rand() < 0.5)),
      "deleteMor pred" -> (() => t.deleteMor(spark, rand() < 0.5)))
    refusals.foreach { case (what, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("must be deterministic"), what)
      assert(t.currentVersion == v0, what)
      assert(cdfDirs == cdf0, what)
    }
    assert(t.load(spark).count() == 12L)
    // deterministic shapes still run
    assert(t.update(spark, col("k") === 1L, Map("v" -> lit("x")))
      .rowsAffected == 1L)
  }
}
