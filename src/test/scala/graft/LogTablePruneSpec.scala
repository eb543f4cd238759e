package graft

import java.io.File

import graft.sources.{AddFile, ColStats, LogTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Round-12 scan-planning contract: the manifest is never a driver
  * Seq unless something actually needs the full file list. Metadata
  * is lazy (Snapshot.adds is a thunk), and selective planning above
  * the parquet-checkpoint threshold evaluates file-skipping as a
  * Spark job over the distributed manifest, collecting ONLY the
  * surviving AddFiles — the 100-TB posture item the r11 checkpoint
  * work started. */
class LogTablePruneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_prune").toString

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select("k", "v").as[(Long, String)].collect().toSet

  private def fakes(n: Int): Seq[AddFile] =
    (0 until n).map { i =>
      AddFile(f"data/fake-$i%06d.parquet", rows = 10L, bytes = 512L,
        stats = Map("k" -> ColStats(Some(i * 10L), Some(i * 10L + 9L), 0L)))
    }

  test("100k-file manifest: selective planning runs DISTRIBUTED and " +
    "collects only the matching subset — bit-equal to the driver walk") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 1)
    t.append(Seq((1L, "a")).toDF("k", "v"))                     // v0
    t.registerFiles(fakes(100000))                              // v1 ckpt
    val pred = col("k") >= 500000L && col("k") <= 500099L

    val fresh = new LogTable(dir)
    val (survivors, total) = fresh.prunedAddsFor(spark, pred)
    assert(fresh.lastPruneMode == "distributed")
    assert(total == 100001L)
    // exactly the ten fake files whose [min,max] overlaps the range
    // — the COLLECTED set is the pruned subset, not the manifest
    assert(survivors.map(_.path) ==
      (50000 until 50010).map(i => f"data/fake-$i%06d.parquet"))

    // ground truth: the all-driver walk over a raw-commit replay
    val raw = new LogTable(dir)
    raw.ignoreCheckpointsForTest = true
    val (driverSurvivors, driverTotal) = raw.prunedAddsFor(spark, pred)
    assert(raw.lastPruneMode == "driver")
    assert(driverTotal == total)
    assert(driverSurvivors == survivors) // full AddFile equality
  }

  test("RESTORE computes its diff WHERE THE MANIFEST LIVES: neither " +
    "snapshot materializes on the driver, the commit carries only " +
    "the diff, and the rolled-back state is exact") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 1)
    t.create(StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))),
      properties = Map("graft.checkpoint.parquetThreshold" -> "1"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))          // v1
    t.append(Seq((3L, "c")).toDF("k", "v"))                     // v2
    t.delete(spark, col("k") === 1L)                            // v3
    val fresh = new LogTable(dir, checkpointInterval = 1)
    val rv = fresh.restore(1L)                                  // v4
    // the diff came from manifest anti-joins — neither the target
    // nor the pre-restore snapshot was forced into a driver Seq
    assert(!fresh.addsMaterializedAt(Some(1L)),
      "restore materialized the TARGET snapshot on the driver")
    assert(!fresh.addsMaterializedAt(Some(3L)),
      "restore materialized the CURRENT snapshot on the driver")
    // the restored state is exactly v1's
    assert(fresh.load(spark).select("k", "v").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // the commit carries only the DIFF, not either snapshot
    val nAdds = fresh.addedPaths(rv).size
    val nRemoves = fresh.history(spark)
      .filter(col("version") === rv)
      .select("n_removed").as[Long].head().toInt
    assert(nAdds >= 1 && nAdds <= 2, s"diff adds: $nAdds")
    assert(nRemoves >= 1 && nRemoves <= 3, s"diff removes: $nRemoves")
    // ground truth: the driver-walk restore on a raw-replay twin
    // produces the same state (full AddFile equality)
    val raw = new LogTable(dir)
    raw.ignoreCheckpointsForTest = true
    assert(raw.liveAdds().toSet ==
      new LogTable(dir).liveAdds().toSet)
  }

  test("metadata-only operations never materialize the manifest; " +
    "a file-list consumer pays exactly once") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 1)
    t.append(Seq((1L, "a")).toDF("k", "v"))                     // v0
    t.registerFiles(fakes(20000))                               // v1 ckpt
    val fresh = new LogTable(dir)
    val head = fresh.currentVersion.get
    // schema, layout, commit metadata, history surface — all lazy
    assert(fresh.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(fresh.partitionCols.isEmpty)
    assert(fresh.commitOp(head) == "append")
    fresh.history(spark).collect()
    assert(!fresh.addsMaterializedAt(Some(head)),
      "a metadata-only consumer forced the 20k-file manifest")
    // and a selective DISTRIBUTED plan still leaves it lazy
    val (s, _) = fresh.prunedAddsFor(spark, col("k") === 5L)
    assert(fresh.lastPruneMode == "distributed" && s.size == 1)
    assert(!fresh.addsMaterializedAt(Some(head)))
    fresh.liveAdds()
    assert(fresh.addsMaterializedAt(Some(head)))
  }

  test("DELETE and loadWhere on a real parquet-checkpointed table " +
    "plan through the distributed walk with unchanged results") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 2)
    t.create(StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))),
      properties = Map("graft.checkpoint.parquetThreshold" -> "1")) // v0
    (0 until 4).foreach { i =>
      t.append(Seq((i * 10L, s"a$i"), (i * 10L + 1, s"b$i"))
        .toDF("k", "v").repartition(1))                   // v1..v4
    }
    // v4 is a checkpoint boundary (interval 2) with parquet state
    assert(new File(dir, "_log").listFiles().exists(
      _.getName.matches("\\d{20}\\.ckpt\\..+\\.parquet")))

    val reader = new LogTable(dir)
    val got = rows(reader.loadWhere(spark, col("k") >= 20L))
    assert(reader.lastPruneMode == "distributed")
    assert(got == rows(reader.load(spark).filter(col("k") >= 20L)))

    val del = new LogTable(dir)
    val res = del.delete(spark, col("k") === 30L)
    assert(del.lastPruneMode == "distributed")
    assert(res.rowsAffected == 1L)
    // files that provably can't hold k=30 were skipped at planning
    assert(res.filesSkippedByStats >= 3, res.toString)
    assert(rows(del.load(spark)) ==
      rows(reader.load(spark, Some(4L)).filter(col("k") =!= 30L)))
  }

  test("a FAT commit checkpoints immediately, keeping the manifest " +
    "tail bounded whatever the interval cadence") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 1000)
    t.append(Seq((1L, "a")).toDF("k", "v"))                     // v0
    t.registerFiles(fakes(LogTable.FatCommitCheckpointActions))  // v1
    val names = new File(dir, "_log").listFiles().map(_.getName)
    assert(names.exists(_.endsWith(".ckpt.json")),
      s"fat commit did not force a checkpoint: ${names.toSeq}")
    // and the distributed manifest serves from it (no 50k-line fold)
    val fresh = new LogTable(dir)
    val (s, total) = fresh.prunedAddsFor(spark, col("k") === 15L)
    assert(fresh.lastPruneMode == "distributed")
    assert(total == 50001L && s.size == 1)
  }

  test("SQL reads through the catalog prune the MANIFEST at " +
    "planning: a selective predicate builds the parquet scan over " +
    "surviving files only, with parquet pushdown intact") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sqlprune")
      .toString
    val t = new LogTable(s"$wh/t", checkpointInterval = 2)
    t.create(StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))),
      properties = Map("graft.checkpoint.parquetThreshold" -> "1")) // v0
    (1 to 4).foreach { i =>
      t.append(Seq((i * 10L, s"a$i"), (i * 10L + 1, s"b$i"))
        .toDF("k", "v").repartition(1))                   // v1..v4
    }
    val cat = s"gprune_${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)

    def scanFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.scan match {
          case p: org.apache.spark.sql.execution.datasources.v2
              .parquet.ParquetScan => p.fileIndex.inputFiles.length
        }
      }.sum

    val sel = spark.sql(s"SELECT k, v FROM $cat.t WHERE k = 30")
    assert(sel.as[(Long, String)].collect().toSeq == Seq((30L, "a3")))
    assert(scanFiles(sel) == 1,
      "selective scan must plan over the single surviving file")
    val full = spark.sql(s"SELECT k FROM $cat.t")
    assert(scanFiles(full) == 4)
    // parquet-level pushdown still present on the pruned scan
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("30"),
      s"expected parquet pushdown through the pruned scan:\n$plan")
    // VERSION AS OF routes through the same pruned planning
    val pinned = spark.sql(
      s"SELECT k FROM $cat.t VERSION AS OF 2 WHERE k = 20")
    assert(pinned.as[Long].collect().toSeq == Seq(20L))
    assert(scanFiles(pinned) == 1)

    // white-box, fresh handle: the whole planning chain — the
    // V1-bridge decision (bridgeFacts) AND the filter prune — runs
    // off the DISTRIBUTED manifest; the driver file list is never
    // materialized
    val fresh = new LogTable(s"$wh/t")
    val sb = new graft.sources.GraftLogTableV2("t", fresh)
      .newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    val conj = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      fresh.schema).filter(col("k") === 30L)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.get
    sb.asInstanceOf[org.apache.spark.sql.internal.connector
      .SupportsPushDownCatalystFilters].pushFilters(Seq(conj))
    val scan = sb.build()
    assert(scan.isInstanceOf[org.apache.spark.sql.execution
      .datasources.v2.parquet.ParquetScan])
    assert(scan.asInstanceOf[org.apache.spark.sql.execution
      .datasources.v2.parquet.ParquetScan]
      .fileIndex.inputFiles.length == 1)
    assert(fresh.lastPruneMode == "distributed",
      "the SQL planning prune must run over the distributed manifest")
    assert(!fresh.addsMaterializedAt(),
      "SQL scan planning materialized the manifest on the driver")
  }

  test("checkpoint WRITES above the threshold are manifest-to-" +
    "manifest: the writer never materializes the file list, chained " +
    "checkpoints re-index uniquely, and replay is order-identical " +
    "to raw") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 1)
    t.append(Seq((1L, "a")).toDF("k", "v"))                     // v0
    t.registerFiles(fakes(20000))       // v1 ckpt — FIRST parquet
                                        // ckpt (driver Seq, paid once)
    // v2 re-adds 1000 known paths: the tail fold + the move-to-end
    // re-add rule both exercise, and THIS checkpoint must write
    // from the distributed manifest without forcing Snapshot.adds
    t.registerFiles(fakes(1000))                                // v2 ckpt
    assert(!t.addsMaterializedAt(Some(2L)),
      "the v2 checkpoint write materialized the manifest")
    // a third generation chains off the rewritten sidecar
    t.registerFiles(fakes(500).map(a =>
      a.copy(path = a.path.replace("fake-", "late-"))))         // v3 ckpt
    assert(!t.addsMaterializedAt(Some(3L)))
    val viaCkpt = new LogTable(dir)
    val raw = new LogTable(dir)
    raw.ignoreCheckpointsForTest = true
    (0L to 3L).foreach { v =>
      assert(viaCkpt.liveAdds(Some(v)) == raw.liveAdds(Some(v)),
        s"checkpoint replay diverges from raw replay at v$v")
    }
    // idx stays unique after chaining (ties would make file order
    // ambiguous): the persisted sidecar re-indexed contiguously
    val idxs = spark.read.parquet(new File(dir, "_log").listFiles()
      .filter(_.getName.matches("00000000000000000003\\.ckpt\\..+\\.parquet"))
      .head.getPath).select("idx").as[Long].collect()
    assert(idxs.length == idxs.distinct.length)
    assert(idxs.sorted.toSeq == (0L until idxs.length).toSeq)
  }

  test("conflict revalidation of a racing rewrite runs DISTRIBUTED: " +
    "only the remove set is looked up, the manifest never " +
    "materializes, and accept/refuse decisions match the driver " +
    "rule — including DV resurrection") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 1)
    // one REAL file holding the rows the rewrites will touch (fake
    // stats floor at k=0, so negative keys never match a fake)...
    t.append(Seq((-5L, "a"), (-4L, "b"), (-3L, "c"), (-2L, "d"))
      .toDF("k", "v").repartition(1))                           // v0
    // ...under a 100k-file parquet-checkpointed manifest
    t.registerFiles(fakes(100000))                              // v1 ckpt

    // ACCEPT: a blind append lands between this delete's read
    // snapshot and its commit — file-level revalidation sees the
    // remove set intact and the retry commits
    var fired1 = false
    val del1 = new LogTable(dir, clock = () => {
      if (!fired1) {
        fired1 = true
        new LogTable(dir).append(Seq((100L, "racer")).toDF("k", "v"))
      }
      System.currentTimeMillis()
    })
    val r1 = del1.delete(spark, col("k") === -5L)
    assert(r1.rowsAffected == 1L)
    assert(del1.lastRevalidateMode == "distributed",
      "remove-set revalidation must run over the distributed manifest")
    val head1 = del1.currentVersion.get
    assert(!del1.addsMaterializedAt(Some(head1)),
      "conflict revalidation materialized the manifest on the driver")

    // REFUSE (removed): a racing CoW delete rewrites the same file
    // out from under this one — the retry must see its remove set
    // gone and refuse, exactly as the driver rule did
    var fired2 = false
    val del2 = new LogTable(dir, clock = () => {
      if (!fired2) {
        fired2 = true
        new LogTable(dir).delete(spark, col("k") === -3L)
      }
      System.currentTimeMillis()
    })
    val e2 = intercept[java.util.ConcurrentModificationException](
      del2.delete(spark, col("k") === -4L))
    assert(e2.getMessage.contains("were removed"), e2.getMessage)
    assert(del2.lastRevalidateMode == "distributed")

    // REFUSE (DV resurrection): a racing MoR delete re-adds the SAME
    // path with a deletion vector — the path stays live but its row
    // set changed; committing the planned rewrite would silently
    // undo the racing delete
    var fired3 = false
    val del3 = new LogTable(dir, clock = () => {
      if (!fired3) {
        fired3 = true
        new LogTable(dir).deleteMor(spark, col("k") === -2L)
      }
      System.currentTimeMillis()
    })
    val e3 = intercept[java.util.ConcurrentModificationException](
      del3.delete(spark, col("k") === -4L))
    assert(e3.getMessage.contains("deletion vector"), e3.getMessage)
    assert(del3.lastRevalidateMode == "distributed")

    // a quiet retry against the settled head succeeds, and the live
    // rows are exactly the three deletes' combined effect
    val retry = new LogTable(dir)
    assert(retry.delete(spark, col("k") === -4L).rowsAffected == 1L)
    // loadWhere prunes to the REAL files (fake stats floor at k=0);
    // a full load would try to scan the registered fakes
    assert(retry.loadWhere(spark, col("k") < 0L).count() == 0L)
    assert(retry.liveAdds().exists(a =>
      a.stats.get("k").exists(_.min.contains(100L))),
      "the racing blind append's file must be live")
  }

  test("allFilesDF newest-entry-wins survives a floor-fold re-add " +
    "racing a larger retained tail: the LATEST DV entry serves, " +
    "never a stale one") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 2)
    t.create(StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))),
      properties = Map("graft.checkpoint.parquetThreshold" -> "1")) // v0
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v").repartition(1))                            // v1
    t.append(Seq((10L, "x")).toDF("k", "v").repartition(1))      // v2 ckpt
    // v3: a post-checkpoint DV re-add of P — once the floor lands
    // on v3, this entry comes from the FLOOR FOLD's alive set
    // (size 1, stamped in the Long.MaxValue idx area)
    t.deleteMor(spark, col("k") === 1L)                          // v3
    val dv1 = t.liveAdds().find(_.dv.isDefined).get.dv.get.path
    // the retained tail is LARGER than the floor fold's alive set
    // and re-adds P again with a newer (merged) vector
    t.deleteMor(spark, col("k") === 2L)                          // v4 ckpt
    t.append(Seq((20L, "y")).toDF("k", "v"))                     // v5
    val dv2 = t.liveAdds().find(_.dv.isDefined).get.dv.get.path
    val pPath = t.liveAdds().find(_.dv.isDefined).get.path
    assert(dv1 != dv2, "the second MoR delete must rewrite the vector")
    // simulate an EXTERNALLY pruned log (a retention tool that
    // deleted raw commits without anchoring a floor checkpoint —
    // graft's own expireSnapshots always anchors one first): the
    // floor manifest is now ckpt(v2) + fold(v3), whose alive set
    // (1 entry) is smaller than the tail (2 entries) — before the
    // re-index fix the fold's STALE dv1 entry outranked dv2
    (0L to 2L).foreach { v =>
      new File(dir, f"_log/$v%020d.json").delete()
    }
    val view = new LogTable(dir).allFilesDF(spark)
    val served = view.filter(col("path") === pPath)
      .select("dv_path").as[String].collect()
    assert(served.length == 1, s"duplicate rows for $pPath")
    assert(served.head == dv2,
      s"allFilesDF served the STALE floor-fold entry $dv1 over $dv2")
  }

  test("a SESSION-LESS JVM reads a parquet-checkpointed table whose " +
    "raw commits were expired — the Group-API fallback serves the " +
    "same file-state the distributed read does") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sessionless").toString
    val table = s"$dir/t"
    val t = new LogTable(table, checkpointInterval = 1)
    // negative keys: the fake stats floor at k=0, so the MoR plan
    // below never touches a (nonexistent) fake file
    t.append(Seq((-1L, "a"), (-2L, "b")).toDF("k", "v")
      .repartition(1))                                          // v0
    t.registerFiles(fakes(20000))                               // v1 ckpt
    t.deleteMor(spark, col("k") === -1L)                        // v2 ckpt (DV)
    // expire the raw commits below the head: a session-less reader
    // can no longer fall back to raw-commit replay — the parquet
    // checkpoint itself must serve
    t.expireSnapshots(retainLast = 1)
    assert(!new File(table, "_log/00000000000000000000.json").isFile)

    val expected = t.liveAdds().sortBy(_.path).map { a =>
      s"${a.path}|${a.rows}|${a.bytes}|${a.dv.map(_.path).getOrElse("-")}"
    }.mkString("\n")

    val out = new File(dir, "sessionless.out")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.nio", "java.base/java.io",
      "java.base/java.util", "java.base/sun.nio.ch",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin, "-Xmx1g",
      "-cp", System.getProperty("java.class.path")) ++ addOpens ++
      Seq("graft.SessionlessReaderMain", table, out.getPath)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new File(dir, "sessionless.log"))
    val p = pb.start()
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
      p.exitValue() == 0,
      s"session-less reader failed:\n${scala.io.Source.fromFile(
        new File(dir, "sessionless.log")).mkString.takeRight(2000)}")
    assert(java.nio.file.Files.readString(out.toPath) == expected,
      "session-less replay diverges from the in-session one")
  }

  test("predicates written with to_date()/to_timestamp() PRUNE: " +
    "RuntimeReplaceable literal wrappers evaluate through their " +
    "replacement at the stats layer") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    def batch(ds: String, k: Long) = Seq((ds, k)).toDF("ds", "k")
      .select(to_date(col("ds")).as("d"), col("k"),
        to_timestamp(col("ds")).as("ts")).repartition(1)
    t.append(batch("2021-01-01", 1L)) // v0: one file
    t.append(batch("2023-06-01", 2L)) // v1: one file
    // two files, disjoint date ranges
    assert(t.liveAdds().size == 2, t.liveAdds().map(_.path))
    val (s1, n1) = t.prunedAddsFor(spark,
      col("d") === to_date(lit("2021-01-01")))
    assert(n1 == 2 && s1.size == 1,
      s"to_date() equality did not prune: ${s1.size} of $n1")
    val (s2, n2) = t.prunedAddsFor(spark,
      col("ts") < to_timestamp(lit("2022-01-01")))
    assert(n2 == 2 && s2.size == 1,
      s"to_timestamp() range did not prune: ${s2.size} of $n2")
  }

  test("addsDF tail fold anti-joins a fat touched set instead of one " +
    "giant isin literal list") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir, checkpointInterval = 2)
    t.create(StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))),
      properties = Map("graft.checkpoint.parquetThreshold" -> "1")) // v0
    t.registerFiles(fakes(1500))                                // v1
    t.append(Seq((1L, "a")).toDF("k", "v"))                     // v2 ckpt
    // one post-checkpoint commit RE-ADDING 1200 known paths — the
    // >1000 regime that would have pushed 1200 literals into one In
    t.registerFiles(fakes(1200))                                // v3
    val df = t.addsDF(spark)
    assert(df.count() == 1501L)
    assert(df.select("path").as[String].collect().toSet ==
      t.liveAdds().map(_.path).toSet)
    // the re-added rows carry the TAIL's entries exactly once
    assert(df.filter(col("path") === "data/fake-000000.parquet")
      .count() == 1L)
  }

  test("string bounds compare in Spark's UTF-8 order: a value above " +
    "U+E000 never skips the file holding it") {
    val t = new LogTable(s"${tmp()}/t")
    val fffd = "\uFFFD"
    val clef = "\uD834\uDD1E" // U+1D11E, above U+FFFD in UTF-8 only
    t.append(Seq(fffd, clef).toDF("s").repartition(1))
    t.append(Seq("a", "b").toDF("s").repartition(1))
    def read(p: org.apache.spark.sql.Column) = {
      val df = t.loadWhere(spark, p)
      (df.as[String].collect().toSet, df.inputFiles.length)
    }
    assert(read(col("s") === fffd) == ((Set(fffd), 1)))
    assert(read(col("s") === clef) == ((Set(clef), 1)))
    assert(read(col("s") > "\uE000") == ((Set(fffd, clef), 1)))
    assert(read(col("s") < clef) == ((Set(fffd, "a", "b"), 2)))
    assert(read(col("s") === "c") == ((Set.empty[String], 0)))

    // a min truncated to the log's string bound stays a lower bound,
    // and a cut never splits a surrogate pair
    val longFffd = fffd * 300
    val longClef = "x" + clef * 300
    val u = new LogTable(s"${tmp()}/u")
    u.append(Seq(longFffd, clef * 300).toDF("s").repartition(1))
    u.append(Seq(longClef).toDF("s").repartition(1))
    val mins = new LogTable(u.path).liveAdds().map(_.stats("s").min.get
      .asInstanceOf[String])
    assert(mins.forall(m => longFffd.startsWith(m) ||
      longClef.startsWith(m)), mins)
    assert(mins.forall(m => !Character.isHighSurrogate(m.last)), mins)
    assert(u.loadWhere(spark, col("s") < clef).as[String].collect()
      .toSet == Set(longFffd, longClef))
    assert(u.loadWhere(spark, col("s") <= longClef).as[String].collect()
      .toSeq == Seq(longClef))
  }

  test("NaN and infinite double bounds round-trip as doubles and prune") {
    val t = new LogTable(s"${tmp()}/t")
    t.create(StructType(Seq(StructField("x", DoubleType))))
    t.append(Seq(Double.NaN, Double.PositiveInfinity).toDF("x")
      .repartition(1))
    t.append(Seq(Double.NegativeInfinity, -2.0).toDF("x").repartition(1))
    val stats = new LogTable(t.path).liveAdds().map(_.stats("x"))
    assert(stats.flatMap(s => s.min ++ s.max).forall(_.isInstanceOf[Double]),
      stats)
    assert(stats.map(s => (s.min.get.asInstanceOf[Double].toString,
      s.max.get.asInstanceOf[Double].toString)).toSet ==
      Set(("Infinity", "NaN"), ("-Infinity", "-2.0")))
    def read(p: org.apache.spark.sql.Column) = {
      val df = new LogTable(t.path).loadWhere(spark, p)
      (df.as[Double].collect().map(_.toString).toSet, df.inputFiles.length)
    }
    assert(read(col("x") < -3.0) == ((Set("-Infinity"), 1)))
    assert(read(col("x") > 0.0 && col("x") < 5.0) == ((Set.empty[String], 0)))
    assert(read(col("x") === Double.NaN) == ((Set("NaN"), 1)))
    assert(read(col("x") > 1e300) == ((Set("NaN", "Infinity"), 1)))
  }
}
