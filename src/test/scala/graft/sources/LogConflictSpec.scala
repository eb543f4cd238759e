package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Optimistic-concurrency conflict detection (Delta's rule): a
  * commit that REMOVES files revalidates them against the head it
  * actually lands on — losing a race to a writer who rewrote the
  * same file is a hard conflict, not silent lost-update. Lives in
  * `graft.sources` to drive the package-private staged-commit path
  * with a deliberately stale read version. */
class LogConflictSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logconf").toString

  test("two writers rewriting the same file: the second, stale " +
    "commit throws instead of clobbering the first") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    val readVersion = t.currentVersion // both writers read v0
    val victim = t.liveAdds().head.path

    // writer A rewrites the file (a delete) and wins
    t.delete(spark, col("k") === 1L)

    // writer B stages its own rewrite of the SAME file against the
    // stale read version — revalidation must reject it
    val staged = t.newStagingDir()
    val stats = t.writeStaged(Seq((2L, "B")).toDF("k", "v"), staged, t.schema)
    val err = intercept[java.util.ConcurrentModificationException] {
      t.commitStagedRewrite(staged, stats, removePaths = Seq(victim),
        op = "delete", readVersion = readVersion)
    }
    assert(err.getMessage.contains("another writer"))
    // A's outcome stands untouched
    assert(t.load(spark).as[(Long, String)].collect().toSet
      == Set((2L, "b")))
  }

  test("a stale reader whose removed files are still live is NOT a " +
    "conflict (disjoint commits interleave freely)") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a")).toDF("k", "v").repartition(1)) // file 1
    val readVersion = t.currentVersion
    val mine = t.liveAdds().head.path
    t.append(Seq((10L, "x")).toDF("k", "v").repartition(1)) // unrelated
    // stale readVersion, but the file this commit removes is still
    // live at the new head — commit proceeds (Delta's rule)
    val staged = t.newStagingDir()
    val stats = t.writeStaged(Seq((1L, "a2")).toDF("k", "v"), staged, t.schema)
    t.commitStagedRewrite(staged, stats, removePaths = Seq(mine),
      op = "update", readVersion = readVersion)
    assert(t.load(spark).as[(Long, String)].collect().toSet
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
