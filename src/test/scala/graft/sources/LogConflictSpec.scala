package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Optimistic-concurrency conflict detection (Delta's rule): a
  * commit that REMOVES files revalidates them against the head it
  * actually lands on — losing a race to a writer who rewrote the
  * same file is a hard conflict, not silent lost-update. A commit
  * coordinator that lands another writer's commit first makes the
  * race deterministic. */
class LogConflictSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logconf").toString

  /** A coordinator that runs `other` once, before its first claim: the
    * committing writer's read version is then stale. */
  private def racedBy(other: => Unit): LogCommitCoordinator =
    new LogCommitCoordinator {
      @volatile private var raced = false
      override def claim(t: java.io.File, target: java.io.File): Boolean = {
        if (!raced) { raced = true; other }
        LocalFsCommitCoordinator.claim(t, target)
      }
    }

  test("two writers rewriting the same file: the second, stale " +
    "commit throws instead of clobbering the first") {
    val dir = s"${tmp()}/t"
    val a = new LogTable(dir)
    a.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    // writer A rewrites the file (a delete) and wins while writer B
    // rewrites the SAME file against the stale read version —
    // revalidation must reject B
    val b = new LogTable(dir,
      coordinator = racedBy(a.delete(spark, col("k") === 1L)))
    val err = intercept[java.util.ConcurrentModificationException] {
      b.update(spark, col("k") === 2L, Map("v" -> lit("B")))
    }
    assert(err.getMessage.contains("another writer"))
    // A's outcome stands untouched
    assert(a.load(spark).as[(Long, String)].collect().toSet
      == Set((2L, "b")))
  }

  test("a stale reader whose removed files are still live is NOT a " +
    "conflict (disjoint commits interleave freely)") {
    val dir = s"${tmp()}/t"
    val a = new LogTable(dir)
    a.append(Seq((1L, "a")).toDF("k", "v").repartition(1)) // file 1
    // stale read version, but the file this commit removes is still
    // live at the new head — commit proceeds (Delta's rule)
    val b = new LogTable(dir, coordinator = racedBy(
      a.append(Seq((10L, "x")).toDF("k", "v").repartition(1)))) // unrelated
    b.update(spark, col("k") === 1L, Map("v" -> lit("a2")))
    assert(a.load(spark).as[(Long, String)].collect().toSet
      == Set((1L, "a2"), (10L, "x")))
  }

  test("append with mergeSchema widens the table; old files read " +
    "NULL for new columns; strict appends still enforce the schema") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a")).toDF("k", "v"))
    // strict: extra column fails with guidance
    val e1 = intercept[IllegalArgumentException](
      t.append(Seq((2L, "b", 7L)).toDF("k", "v", "n")))
    assert(e1.getMessage.contains("mergeSchema"))
    // evolve: new nullable column appended in the same commit
    t.append(Seq((2L, "b", 7L)).toDF("k", "v", "n"), mergeSchema = true)
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "n"))
    assert(t.load(spark).select("k", "v", "n")
      .as[(Long, String, Option[Long])].collect().toSet
      == Set((1L, "a", None), (2L, "b", Some(7L))))
    // a narrower frame null-fills under mergeSchema, fails strict
    val e2 = intercept[IllegalArgumentException](
      t.append(Seq((3L, "c")).toDF("k", "v")))
    assert(e2.getMessage.contains("lacks table column"))
    t.append(Seq((3L, "c")).toDF("k", "v"), mergeSchema = true)
    assert(t.load(spark).count() == 3L)
    // time travel reads the OLD schema at the old version
    assert(t.load(spark, Some(0L)).schema.fieldNames.toSeq == Seq("k", "v"))
  }
}
