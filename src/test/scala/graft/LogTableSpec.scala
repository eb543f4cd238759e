package graft

import java.io.File

import graft.sources.{LocalFsCommitCoordinator, LogCommitCoordinator, LogTable, RowOpResult, SqlMerge}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The transaction-log table: append-by-reference commits, stats-
  * pruned row-level DELETE/UPDATE, checkpointed replay, time travel,
  * change feed, OPTIMIZE and VACUUM. */
class LogTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logtable").toString

  private def fixedClock(ts: Long*): () => Long = {
    val it = Iterator(ts: _*) ++ Iterator.continually(ts.last)
    () => it.next()
  }

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select("k", "v").as[(Long, String)].collect().toSet

  test("append commits only its delta; prior files carry forward " +
    "by reference") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val firstFiles = t.liveAdds().map(_.path).toSet
    val firstMtimes = firstFiles.map(p =>
      p -> new File(t.path, p).lastModified()).toMap
    t.append(Seq((3L, "c")).toDF("k", "v"))
    assert(rows(t.load(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // batch-1 files are still live under the SAME paths, untouched
    val after = t.liveAdds().map(_.path).toSet
    assert(firstFiles.subsetOf(after))
    firstFiles.foreach(p =>
      assert(new File(t.path, p).lastModified() == firstMtimes(p)))
    // the second commit's log entry names only its own files
    assert(t.currentVersion.contains(1L))
  }

  test("stats: per-file min/max/nulls recorded at commit time") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (10L, "z")).toDF("k", "v")
      .repartition(1))
    val add = t.liveAdds().head
    assert(add.rows == 2L)
    assert(add.stats("k") == graft.sources.ColStats(Some(1L), Some(10L), 0L))
    assert(add.stats("v").min.contains("a") && add.stats("v").max.contains("z"))
  }

  test("delete prunes untouched files via stats, rewrites only " +
    "files with matches, keeps null-predicate rows") {
    val t = new LogTable(s"${tmp()}/t")
    // three single-file commits with disjoint key ranges
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    t.append(Seq((10L, "c"), (11L, "d")).toDF("k", "v").repartition(1))
    t.append((Seq((20L, "e")) ++ Seq((21L, null.asInstanceOf[String])))
      .toDF("k", "v").repartition(1))
    val lowFile = t.liveAdds().find(_.stats("k").max.contains(2L)).get.path
    val res = t.delete(spark, col("k") >= 10L && col("k") <= 11L)
    // file [1,2] skipped by stats; file [20,21] scanned but no match
    // is impossible here (21 > 11 → also skipped by stats)
    assert(res.filesSkippedByStats == 2, res)
    assert(res.filesRewritten == 1, res)
    assert(res.rowsAffected == 2L, res)
    assert(rows(t.load(spark)) == Set((1L, "a"), (2L, "b"), (20L, "e"),
      (21L, null)))
    // untouched file survives under its original path
    assert(t.liveAdds().map(_.path).contains(lowFile))
    // null predicate keeps the row: v = NULL makes `v = 'x'` NULL
    val res2 = t.delete(spark, col("v") === "nope")
    assert(res2.rowsAffected == 0L)
    assert(rows(t.load(spark)).size == 4)
  }

  test("update rewrites matching files only and records pre/post " +
    "images in the change feed") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    t.append(Seq((10L, "c")).toDF("k", "v").repartition(1))
    val before = t.currentVersion.get
    val res = t.update(spark, col("k") === 10L, Map("v" -> lit("C")))
    assert(res.filesSkippedByStats == 1 && res.filesRewritten == 1)
    assert(res.rowsAffected == 1L)
    assert(rows(t.load(spark)) == Set((1L, "a"), (2L, "b"), (10L, "C")))
    val cdf = t.changes(spark, before, res.version)
    assert(cdf.filter(col("_change_type") === "update_preimage")
      .select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((10L, "c")))
    assert(cdf.filter(col("_change_type") === "update_postimage")
      .select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((10L, "C")))
  }

  /** Three single-file commits (k 2-4, 10-11, 20-22) and the name of
    * the file holding k = 11. */
  private def threeFiles(): (LogTable, String) = {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((2L, "a"), (4L, "b")).toDF("k", "v").repartition(1))
    t.append(Seq((10L, "c"), (11L, "d")).toDF("k", "v").repartition(1))
    t.append(Seq((20L, "e"), (22L, "f")).toDF("k", "v").repartition(1))
    (t, new File(t.liveAdds().find(_.stats("k").max.contains(11L)).get
      .path).getName)
  }

  /** The SQL plans and the jobs outside any SQL execution of `op`. */
  private def traced(t: LogTable)(op: LogTable => RowOpResult)
      : (RowOpResult, Seq[String], Seq[String]) = {
    var res: RowOpResult = null
    var outside = Seq.empty[String]
    val plans = plansOf { outside = jobsOutsideSql { res = op(t) } }
    (res, plans, outside)
  }

  // `k % 10 = 1` survives stats pruning in every file and matches
  // only k = 11
  private val onlyEleven = col("k") % 10L === 1L

  test("a copy-on-write DELETE and UPDATE each scan the candidate " +
    "files once, then only the touched file, and run no job outside " +
    "an SQL execution") {
    Seq[LogTable => RowOpResult](
      _.delete(spark, onlyEleven),
      _.update(spark, onlyEleven, Map("v" -> lit("x")))).foreach { op =>
      val (t, touchedName) = threeFiles()
      val (res, plans, outside) = traced(t)(op)
      assert(res.filesScanned == 3 && res.filesRewritten == 1 &&
        res.rowsAffected == 1L, res)
      // a scan's Location names its first file and counts the others
      def scans(plan: String): Seq[String] = plan.split('\n').toSeq
        .filter(l => l.contains("Location:") && l.contains(s"${t.path}/data/"))
      val dataScans = plans.filter(p => scans(p).nonEmpty)
      val all = dataScans.mkString("\n----\n")
      assert(dataScans.size == 2, all)
      assert(dataScans.count(p =>
        scans(p).exists(_.contains("... 2 entries"))) == 1, all)
      assert(dataScans.count(p =>
        scans(p).forall(_.contains(s"$touchedName]"))) == 1, all)
      assert(outside.isEmpty, outside)
    }
  }

  test("a merge-on-read DELETE runs its feed and vector writes, an " +
    "UPDATE also its post-image staging, and no job outside them") {
    Seq[(LogTable => RowOpResult, Int)](
      (_.deleteMor(spark, onlyEleven), 2),
      (_.updateMor(spark, onlyEleven, Map("v" -> lit("x"))), 3))
      .foreach { case (op, executions) =>
        val (t, _) = threeFiles()
        val (res, plans, outside) = traced(t)(op)
        assert(res.filesScanned == 3 && res.filesRewritten == 1 &&
          res.rowsAffected == 1L, res)
        assert(plans.size == executions, plans.mkString("\n----\n"))
        assert(outside.isEmpty, outside)
      }
  }

  test("a DELETE, UPDATE or MOR DELETE/UPDATE whose candidates hold " +
    "no matching row commits nothing and leaves no change feed") {
    val (t, _) = threeFiles()
    val v = t.currentVersion.get
    // survives stats pruning in every file, matches no row
    val none = col("k") % 10L === 5L
    val set = Map("v" -> lit("x"))
    Seq(t.delete(spark, none), t.update(spark, none, set),
      t.deleteMor(spark, none), t.updateMor(spark, none, set)).foreach(r =>
      assert(r == RowOpResult(v, 0L, 0, 3, 0), r))
    assert(t.currentVersion.contains(v))
    assert(entriesUnder(t.path, "_cdf").isEmpty, entriesUnder(t.path, "_cdf"))
    assert(entriesUnder(t.path, "_dv").isEmpty, entriesUnder(t.path, "_dv"))
  }

  test("a row-level change whose commit lands but whose claim then " +
    "fails keeps the change feed and vectors the commit reads") {
    Seq(("delete", Set((2L, "a"), (4L, "b"), (10L, "c"), (20L, "e"),
        (22L, "f"))), ("update", Set((2L, "a"), (4L, "b"), (10L, "c"),
        (11L, "x"), (20L, "e"), (22L, "f")))).foreach { case (verb, after) =>
      Seq[LogTable => Unit](
        t => if (verb == "delete") t.delete(spark, onlyEleven)
             else t.update(spark, onlyEleven, Map("v" -> lit("x"))),
        t => if (verb == "delete") t.deleteMor(spark, onlyEleven)
             else t.updateMor(spark, onlyEleven, Map("v" -> lit("x"))),
        t => SqlMerge.mergeLog(spark, s"""MERGE INTO tgt t USING lt_ack s
          ON t.k = s.k WHEN MATCHED THEN ${if (verb == "delete") "DELETE"
          else "UPDATE SET v = 'x'"}""", t)).foreach { op =>
        val (t, _) = threeFiles()
        Seq(11L).toDF("k").createOrReplaceTempView("lt_ack")
        val v = t.currentVersion.get + 1L
        // the claim lands, then its acknowledgement is lost
        val lossy = new LogTable(t.path, coordinator = new LogCommitCoordinator {
          override def claim(tmp: File, target: File): Boolean = {
            LocalFsCommitCoordinator.claim(tmp, target)
            throw new java.io.IOException("acknowledgement lost")
          }
        })
        intercept[java.io.IOException](op(lossy))
        val fresh = new LogTable(t.path)
        assert(fresh.currentVersion.contains(v))
        assert(entriesUnder(t.path, "_cdf").size == 1,
          entriesUnder(t.path, "_cdf"))
        assert(entriesUnder(t.path, "_dv").toSet ==
          fresh.liveAdds().flatMap(_.dv).map(d => new File(d.path).getName)
            .toSet, entriesUnder(t.path, "_dv"))
        assert(fresh.load(spark).select("k", "v").as[(Long, String)]
          .collect().toSet == after)
        assert(fresh.changes(spark, v - 1L, v).count() ==
          (if (verb == "delete") 1L else 2L))
      }
    }
    spark.catalog.dropTempView("lt_ack")
  }

  test("version and timestamp time travel resolve historic " +
    "snapshots") {
    val t = new LogTable(s"${tmp()}/t", fixedClock(1000L, 2000L, 3000L))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.delete(spark, col("k") === 1L)
    assert(rows(t.load(spark, Some(0L))) == Set((1L, "a")))
    assert(rows(t.load(spark, Some(1L))) == Set((1L, "a"), (2L, "b")))
    assert(rows(t.load(spark)) == Set((2L, "b")))
    assert(t.versionAt(1500L) == 0L)
    assert(t.versionAt(2000L) == 1L)
    assert(t.versionAt(9999L) == 2L)
    intercept[IllegalArgumentException](t.versionAt(500L))
  }

  test("checkpointed replay: a reader over a long history resolves " +
    "from the newest checkpoint, and state matches full replay") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 4)
    (0 until 10).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    // checkpoints exist at versions 4 and 8
    assert(new File(dir, "_log").listFiles()
      .count(_.getName.endsWith(".ckpt.json")) == 2)
    // a FRESH instance (no shared state) reads through the checkpoint
    val t2 = new LogTable(dir, checkpointInterval = 4)
    assert(t2.load(spark).count() == 10L)
    assert(rows(t2.load(spark)) ==
      (0 until 10).map(i => (i.toLong, s"v$i")).toSet)
    // and a pre-checkpoint version still replays exactly
    assert(t2.load(spark, Some(2L)).count() == 3L)
  }

  test("round-11 distributed checkpoints: parquet and JSONL " +
    "checkpoint replays are indistinguishable from raw-commit " +
    "replay across appends, CoW/MoR deletes, restore and " +
    "property changes — per version, order included") {
    // forced-parquet table (threshold 1): every checkpoint ships
    // its file-state through a Spark job
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))          // v0
    t.setTableProperties(
      Map("graft.checkpoint.parquetThreshold" -> "1"))          // v1
    t.append(Seq((3L, "c")).toDF("k", "v"))                     // v2 ckpt
    t.deleteMor(spark, col("k") === 1L)                         // v3 (DV)
    t.append(Seq((4L, "d")).toDF("k", "v"))                     // v4 ckpt
    t.delete(spark, col("k") === 3L)                            // v5 (CoW)
    t.restore(2L)                                               // v6 ckpt
    t.append(Seq((5L, "e")).toDF("k", "v"))                     // v7
    val logFiles = new File(dir, "_log").listFiles().map(_.getName)
    assert(logFiles.exists(
      _.matches("\\d{20}\\.ckpt\\..+\\.parquet")), logFiles.toSeq)
    assert(!logFiles.exists(_.endsWith(".ckpt.adds.jsonl")))
    // headers are O(schema), never O(#files): no embedded adds
    val header = java.nio.file.Files.readString(
      new File(dir, "_log").listFiles()
        .filter(_.getName.endsWith(".ckpt.json")).head.toPath)
    assert(!header.contains("\"adds\""), "header embeds the file state")
    val viaCkpt = new LogTable(dir)
    val rawReplay = new LogTable(dir)
    rawReplay.ignoreCheckpointsForTest = true
    viaCkpt.versions.foreach { v =>
      assert(viaCkpt.liveAdds(Some(v)) == rawReplay.liveAdds(Some(v)),
        s"parquet-checkpoint replay diverges from raw replay at v$v")
      assert(viaCkpt.schemaAt(v) == rawReplay.schemaAt(v))
    }
    assert(viaCkpt.tableProperties == rawReplay.tableProperties)
    assert(rows(viaCkpt.load(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")))
    // default-threshold twin: small tables keep the zero-job JSONL
    // sidecar, same equivalence contract
    val dir2 = s"${tmp()}/t"
    val s = new LogTable(dir2, checkpointInterval = 2)
    s.append(Seq((1L, "x")).toDF("k", "v"))                     // v0
    s.append(Seq((2L, "y")).toDF("k", "v"))                     // v1
    s.deleteMor(spark, col("k") === 1L)                         // v2 ckpt
    s.append(Seq((3L, "z")).toDF("k", "v"))                     // v3
    val names2 = new File(dir2, "_log").listFiles().map(_.getName)
    assert(names2.exists(_.endsWith(".ckpt.adds.jsonl")), names2.toSeq)
    assert(!names2.exists(_.matches("\\d{20}\\.ckpt\\..+\\.parquet")))
    val viaJsonl = new LogTable(dir2)
    val raw2 = new LogTable(dir2)
    raw2.ignoreCheckpointsForTest = true
    viaJsonl.versions.foreach { v =>
      assert(viaJsonl.liveAdds(Some(v)) == raw2.liveAdds(Some(v)),
        s"JSONL-checkpoint replay diverges from raw replay at v$v")
    }
  }

  test("round-11 metadata scale: a 100k-file snapshot checkpoints " +
    "as multi-part parquet through a Spark job and replays — the " +
    "driver never renders or parses the state as one string") {
    import graft.sources.{AddFile, ColStats}
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 1)
    t.append(Seq((1L, "a")).toDF("k", "v"))                     // v0
    val fakes = (0 until 100000).map { i =>
      AddFile(f"data/fake-$i%06d.parquet", rows = 10L, bytes = 512L,
        stats = Map("k" -> ColStats(Some(i * 10L), Some(i * 10L + 9L), 0L)))
    }
    t.registerFiles(fakes)                                      // v1 ckpt
    val log = new File(dir, "_log")
    val pq = log.listFiles().filter(
      _.getName.matches("\\d{20}\\.ckpt\\..+\\.parquet"))
    assert(pq.length == 1, log.listFiles().map(_.getName).toSeq)
    assert(pq.head.isDirectory &&
      pq.head.listFiles().exists(_.getName.endsWith(".parquet")))
    // the header stays tiny — O(schema), demonstrably not O(#files)
    val headerBytes = log.listFiles()
      .filter(_.getName.endsWith(".ckpt.json")).map(_.length()).max
    assert(headerBytes < 10000L, s"checkpoint header is $headerBytes B")
    // a fresh reader resolves the full state through the parquet
    // checkpoint, order preserved
    val fresh = new LogTable(dir)
    val adds = fresh.liveAdds()
    assert(adds.size == 100001)
    assert(adds.tail.map(_.path) == fakes.map(_.path))
    assert(adds.tail.head.stats("k") == ColStats(Some(0L), Some(9L), 0L))
    // stats survive the round trip at the far end too
    assert(adds.last.stats("k") ==
      ColStats(Some(999990L), Some(999999L), 0L))
  }

  test("two writers over the same table: both appends land under " +
    "distinct versions (optimistic retry)") {
    val dir = s"${tmp()}/t"
    val a = new LogTable(dir)
    val b = new LogTable(dir)
    a.append(Seq((1L, "a")).toDF("k", "v"))
    b.append(Seq((2L, "b")).toDF("k", "v"))
    a.append(Seq((3L, "c")).toDF("k", "v"))
    assert(a.versions == Seq(0L, 1L, 2L))
    assert(rows(a.load(spark)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("change feed: inserts from appends, deletes from delete " +
    "commits, both sides of an overwrite") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))   // v0
    t.delete(spark, col("k") === 1L)                      // v1
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))            // v2
    val all = t.changes(spark, -1L, 2L)
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(all == Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (1L, "a", "delete", 1L),
      (9L, "z", "insert", 2L), (2L, "b", "delete", 2L)))
    // a bounded window selects only its commits
    assert(t.changes(spark, 0L, 1L).select("_change_type")
      .as[String].collect().toSeq == Seq("delete"))
  }

  test("compactFiles bin-packs small files without changing rows; " +
    "vacuum drops files referenced only by expired versions") {
    val t = new LogTable(s"${tmp()}/t")
    (0 until 6).foreach(i =>
      t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").repartition(1)))
    assert(t.liveAdds().size == 6)
    val before = rows(t.load(spark))
    val v = t.compactFiles(spark, smallBytes = 32L << 20,
      targetBytes = 128L << 20)
    assert(t.commitOp(v) == "optimize")
    assert(t.liveAdds().size == 1)
    assert(rows(t.load(spark)) == before)
    // optimize emits no row-level changes
    assert(t.changes(spark, v - 1, v).count() == 0L)
    val dataFiles = new File(t.path, "data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(dataFiles == 7) // 6 retired-but-retained + 1 live
    val dropped = t.vacuum(retainLast = 1, retentionMillis = 0L)
    assert(dropped.size == 6)
    assert(rows(t.load(spark)) == before) // current snapshot intact
  }

  test("cluster (OPTIMIZE ZORDER) tightens per-file stats so range " +
    "predicates skip files that overlapping appends could not") {
    val t = new LogTable(s"${tmp()}/t")
    // three appends with fully interleaved key ranges: every file's
    // [min,max] spans the whole domain, so stats prune nothing
    t.append((0 until 30 by 3).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").repartition(1))
    t.append((1 until 30 by 3).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").repartition(1))
    t.append((2 until 30 by 3).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").repartition(1))
    val before = rows(t.load(spark))
    // an in-domain point: every interleaved file's [min,max] covers
    // it, so stats prune nothing and all three files are scanned
    val r0 = t.delete(spark, col("k") === 7L)
    assert(r0.filesSkippedByStats == 0 && r0.filesScanned == 3
      && r0.filesRewritten == 1 && r0.rowsAffected == 1L, r0)
    val v = t.cluster(spark, Seq("k"), nFiles = 3)
    assert(t.commitOp(v) == "optimize")
    assert(rows(t.load(spark)) == before - ((7L, "v7")))
    // ranges are now disjoint: a point delete prunes to one file
    val ranges = t.liveAdds().map(a =>
      (a.stats("k").min.get.asInstanceOf[Long],
        a.stats("k").max.get.asInstanceOf[Long])).sorted
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"ranges overlap after cluster: $ranges")
    val nLive = t.liveAdds().size
    val r1 = t.delete(spark, col("k") === 8L)
    assert(r1.filesSkippedByStats == nLive - 1 && r1.filesScanned == 1
      && r1.rowsAffected == 1L, r1)
  }

  test("runIncrementInto commits each SCD2 increment as one log " +
    "overwrite; the prior state stays travelable") {
    import graft.operators.Pipeline
    val t = new LogTable(s"${tmp()}/t")
    val cfg = Pipeline.TableConfig("dim", keyCols = Seq("k"),
      attrCols = Seq("v"), recencyCols = Seq("k"))
    Pipeline.runIncrementInto(t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      cfg, "b1", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    Pipeline.runIncrementInto(t, Seq((2L, "c"), (3L, "d")).toDF("k", "v"),
      cfg, "b2", java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))
    assert(t.versions == Seq(0L, 1L))
    assert(t.commitOp(1L) == "overwrite")
    assert(t.load(spark).filter(col("is_current")).select("k", "v")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "c"), (3L, "d")))
    // batch 2 closed k=2's first version; v0 still has it open
    assert(t.load(spark).count() == 4L)
    assert(t.load(spark, Some(0L)).select("k", "v", "is_current")
      .as[(Long, String, Boolean)].collect().toSet ==
      Set((1L, "a", true), (2L, "b", true)))
  }

  test("a table opened through a `..` path still attributes its " +
    "touched files: MERGE UPDATE, delete and deleteMor") {
    // the scan-time file URI has `..` normalized away; the live-file
    // key must compare equal to it, or every row-level op misses
    val root = tmp()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    def dotted(name: String): LogTable = {
      new File(s"$root/$name/x").mkdirs()
      val t = new LogTable(s"$root/$name/x/../t")
      t.overwrite(base.repartition(1))
      t
    }
    def rows(t: LogTable): Set[(Long, String)] =
      t.load(spark).as[(Long, String)].collect().toSet
    val merged = dotted("merge")
    Seq((1L, "a2")).toDF("k", "v").createOrReplaceTempView("dotdot_src")
    graft.sources.SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING dotdot_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v""", merged)
    val deleted = dotted("delete")
    deleted.delete(spark, col("k") === 2L)
    val dvDeleted = dotted("dv")
    dvDeleted.deleteMor(spark, col("k") === 3L)
    assert(Seq(rows(merged), rows(deleted), rows(dvDeleted)) == Seq(
      Set((1L, "a2"), (2L, "b"), (3L, "c")),
      Set((1L, "a"), (3L, "c")),
      Set((1L, "a"), (2L, "b"))))
  }

  test("vacuum drops change-feed dirs of expired versions and keeps " +
    "the retained window's") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))     // v0
    t.delete(spark, col("k") === 1L)                        // v1, cdf A
    t.update(spark, col("k") === 2L, Map("v" -> lit("B")))  // v2, cdf B
    def cdfDirs = Option(new File(t.path, "_cdf").listFiles())
      .toSeq.flatten.count(_.isDirectory)
    assert(cdfDirs == 2)
    t.vacuum(retainLast = 1, retentionMillis = 0L)
    assert(cdfDirs == 1)
    // the retained head's change feed still reads
    assert(t.changes(spark, 1L, 2L)
      .filter(col("_change_type") === "update_postimage")
      .select("v").as[String].collect().toSeq == Seq("B"))
  }

  test("create seeds a schema-only empty table readable at zero " +
    "rows") {
    val t = new LogTable(s"${tmp()}/t")
    t.create(org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING"))
    assert(t.load(spark).count() == 0L)
    assert(t.load(spark).schema.fieldNames.toSeq == Seq("k", "v"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    assert(rows(t.load(spark)) == Set((1L, "a")))
  }

  test("vacuum's retention window protects just-written files — the " +
    "commit/vacuum race guard") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))
    // the v0 file is unreferenced by the retained head, but younger
    // than the default retention horizon: an in-flight commit's
    // just-moved files look exactly like this, so nothing is deleted
    assert(t.vacuum(retainLast = 1).isEmpty)
    assert(t.load(spark, Some(0L)).count() == 1L) // v0 still readable
    // with the window waived (quiescent table), vacuum reclaims it
    assert(t.vacuum(retainLast = 1, retentionMillis = 0L).nonEmpty)
  }

  test("in-commit timestamps are MONOTONIC: a same-millisecond (or " +
    "backwards) wall clock never records a commit at-or-before its " +
    "predecessor, so ts order IS version order and versionAt is " +
    "unambiguous under clock skew") {
    // wall clock: 1000, 1000 (tie), 500 (a skewed writer going BACK)
    val ticks = Iterator(1000L, 1000L, 500L)
    val t = new LogTable(s"${tmp()}/t", clock = () => ticks.next())
    t.append(Seq((1L, "a")).toDF("k", "v")) // v0 recorded @ 1000
    t.append(Seq((2L, "b")).toDF("k", "v")) // v1 recorded @ 1001
    t.append(Seq((3L, "c")).toDF("k", "v")) // v2 recorded @ 1002
    assert((0L to 2L).map(t.commitTime) == Seq(1000L, 1001L, 1002L))
    // the snapshot current AT wall-instant 1000 is v0 (v1 "happened"
    // strictly after, by construction); 1001 → v1; ≥1002 → v2
    assert(t.versionAt(1000L) == 0L)
    assert(t.versionAt(1001L) == 1L)
    assert(t.versionAt(5000L) == 2L)
    assert(t.load(spark, Some(t.versionAt(5000L))).count() == 3L)
  }

  test("a schema-widening append that loses the log-slot race to " +
    "another writer's schema change re-merges both column sets") {
    val dir = s"${tmp()}/t"
    val other = new LogTable(dir)
    other.append(Seq((1L, "a")).toDF("k", "v")) // v0: (k, v)
    // the racing writer: its clock fires inside commitRetry AFTER
    // the schema was read and revalidated but BEFORE the log-slot
    // claim — at that instant the other handle commits a DIFFERENT
    // widened schema, so the slot claim loses and the retry must
    // re-merge rather than clobber
    var fired = false
    val racer = new LogTable(dir, clock = () => {
      if (!fired) {
        fired = true
        other.append(Seq((2L, "b", 7L)).toDF("k", "v", "b"),
          mergeSchema = true) // v1: (k, v, b)
      }
      System.currentTimeMillis()
    })
    racer.append(Seq((3L, "c", "x")).toDF("k", "v", "c"),
      mergeSchema = true) // intended (k, v, c); must land (k, v, b, c)
    assert(racer.schema.fieldNames.toSeq == Seq("k", "v", "b", "c"))
    val all = racer.load(spark)
      .select("k", "v", "b", "c").as[(Long, String, Option[Long], Option[String])]
      .collect().toSet
    assert(all == Set((1L, "a", None, None), (2L, "b", Some(7L), None),
      (3L, "c", None, Some("x"))))
  }

  test("TIMESTAMP_NTZ stats prune soundly under a non-UTC session " +
    "timezone") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Singapore")
    try {
      val t = new LogTable(s"${tmp()}/t")
      // two single-file commits, ranges 2h apart — narrower than the
      // +08:00 session offset, so a tz-shifted bound would push one
      // file's [min,max] entirely past the other's literals
      t.append(Seq(("2024-03-01 10:00:00", 1L), ("2024-03-01 10:30:00", 2L))
        .toDF("ts", "k").withColumn("ts", col("ts").cast("timestamp_ntz"))
        .repartition(1))
      t.append(Seq(("2024-03-01 13:00:00", 3L), ("2024-03-01 13:30:00", 4L))
        .toDF("ts", "k").withColumn("ts", col("ts").cast("timestamp_ntz"))
        .repartition(1))
      val res = t.delete(spark,
        col("ts") === lit("2024-03-01 10:30:00").cast("timestamp_ntz"))
      // sound: the file containing the match is scanned and
      // rewritten; the other file is still skippable by stats
      assert(res.rowsAffected == 1L, res)
      assert(res.filesSkippedByStats == 1 && res.filesRewritten == 1, res)
      assert(t.load(spark).count() == 3L)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("partitioned table API: appends/update/compaction keep the " +
    "hive layout, the change feed reads through it, and partition " +
    "predicates prune by stats") {
    val t = new LogTable(s"${tmp()}/t")
    t.create(org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING, region STRING"), partitionBy = Seq("region"))
    t.append(Seq((1L, "a", "eu"), (2L, "b", "us")).toDF("k", "v", "region"))
    t.append(Seq((3L, "c", "eu")).toDF("k", "v", "region"))
    assert(t.partitionCols == Seq("region"))
    assert(t.load(spark).select("k", "v", "region")
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "eu"), (2L, "b", "us"), (3L, "c", "eu")))
    // the log-side stats pruner subsumes partition pruning: min=max
    // per file on the partition column skips the other partitions
    val res = t.update(spark, col("region") === "us",
      Map("v" -> lit("B")))
    assert(res.rowsAffected == 1L, res)
    assert(res.filesSkippedByStats == 2 && res.filesRewritten == 1, res)
    // layout preserved through the rewrite
    t.liveAdds().foreach(a =>
      assert(a.path.matches("data/region=(eu|us)/.*"), a.path))
    // change feed carries the partition column like any other
    assert(t.changes(spark, 1L, t.currentVersion.get)
      .filter(col("_change_type") === "update_postimage")
      .select("v", "region").as[(String, String)].collect().toSeq ==
      Seq(("B", "us")))
    // compaction keeps hive layout and rows
    t.append(Seq((4L, "d", "eu")).toDF("k", "v", "region"))
    t.compactFiles(spark)
    t.liveAdds().foreach(a =>
      assert(a.path.matches("data/region=(eu|us)/.*"), a.path))
    assert(t.load(spark).count() == 4L)
    // historical snapshots replay through the partition dirs
    assert(t.load(spark, Some(1L)).select("k").as[Long]
      .collect().toSet == Set(1L, 2L))
  }

  test("string bounds: oversized strings keep a truncated lower " +
    "bound and drop the upper bound (soundness)") {
    val t = new LogTable(s"${tmp()}/t")
    val big = "x" * 400
    t.append(Seq((1L, big)).toDF("k", "v").repartition(1))
    val st = t.liveAdds().head.stats("v")
    assert(st.min.exists(_.asInstanceOf[String].length == 256))
    assert(st.max.isEmpty)
    // a delete against the unbounded column still works (no skip,
    // but correct)
    val res = t.delete(spark, col("v") === "nope")
    assert(res.rowsAffected == 0L && res.filesScanned == 1)
  }

  test("distributed VACUUM listing: a many-partition table vacuums " +
    "through the Spark-job lister with dry-run/driver-walk parity") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.create(org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, p STRING"), partitionBy = Seq("p"))
    // ≥ DistributedListingMinDirs first-level partition dirs
    val keys = (0 until 10).map(i => s"p$i")
    t.append(keys.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("k", "p"))
    // retire the first generation wholesale
    t.overwrite(keys.zipWithIndex.map { case (p, i) => (i.toLong + 100, p) }
      .toDF("k", "p"))
    val before = t.load(spark).select("k").as[Long].collect().toSet
    // parity: the distributed dry run and the driver-walk dry run
    // nominate the SAME expired set
    val dryDist = t.vacuum(retainLast = 1, retentionMillis = 0L,
      dryRun = true, spark = Some(spark)).toSet
    val dryLocal = t.vacuum(retainLast = 1, retentionMillis = 0L,
      dryRun = true).toSet
    assert(dryDist == dryLocal && dryDist.nonEmpty)
    // the destructive distributed pass drops exactly that set and
    // leaves the current snapshot intact
    val dropped = t.vacuum(retainLast = 1, retentionMillis = 0L,
      spark = Some(spark)).toSet
    assert(dropped == dryDist)
    assert(t.load(spark).select("k").as[Long].collect().toSet == before)
  }

  test("_last_checkpoint bounds head resolution: current-snapshot " +
    "reads after many commits issue ZERO _log/ listings; time travel " +
    "behind the checkpoint and a deleted pointer fall back to listing " +
    "with identical answers") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 10)
    (1 to 26).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(new File(dir, "_log/_last_checkpoint").isFile)
    // a FRESH reader (no memoized snapshots): head + current
    // snapshot resolve from pointer + forward probe alone — the
    // listing count stays flat no matter how long the history is
    val r = new LogTable(dir)
    assert(r.currentVersion.contains(25L))
    assert(r.load(spark).count() == 26L)
    assert(r.logListings == 0L,
      s"pointer-resolved head+snapshot issued ${r.logListings} LISTs")
    // deep time travel (before the newest checkpoint) needs the
    // older checkpoint — the documented listing fallback
    assert(r.load(spark, Some(4L)).count() == 5L)
    assert(r.logListings >= 1L)
    // the pointer is ADVISORY: remove it and everything still
    // answers identically through the listing path
    assert(new File(dir, "_log/_last_checkpoint").delete())
    val r2 = new LogTable(dir)
    assert(r2.currentVersion.contains(25L))
    assert(r2.load(spark).count() == 26L)
    assert(r2.load(spark, Some(4L)).count() == 5L)
    assert(r2.logListings >= 1L)
    // and the next checkpoint recreates it
    val t2 = new LogTable(dir, checkpointInterval = 10)
    (27 to 31).foreach(i =>
      t2.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(new File(dir, "_log/_last_checkpoint").isFile)
    val r3 = new LogTable(dir)
    assert(r3.currentVersion.contains(30L))
    assert(r3.load(spark).count() == 31L)
    assert(r3.logListings == 0L)
  }
}
