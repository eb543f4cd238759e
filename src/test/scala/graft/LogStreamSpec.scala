package graft

import graft.sources.{LogStreamProvider, LogTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming reads of the transaction-log table (offsets = log
  * versions), plus RESTORE and DESCRIBE-HISTORY maintenance. */
class LogStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logstream").toString

  private def startQuery(dir: String, sinkName: String,
                         skipChanges: Boolean = false,
                         checkpoint: Option[String] = None) = {
    val reader = spark.readStream
      .format(classOf[LogStreamProvider].getName)
      .option("path", dir)
    val withSkip =
      if (skipChanges) reader.option("skipChangeCommits", "true") else reader
    val writer = withSkip.load().writeStream
      .format("memory").queryName(sinkName)
      .trigger(Trigger.ProcessingTime(50))
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer)
      .start()
  }

  test("a subscriber receives exactly the appended commits, batch " +
    "by batch") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val q = startQuery(dir, "log_stream_1")
    try {
      q.processAllAvailable()
      assert(spark.table("log_stream_1").as[(Long, String)].collect().toSet
        == Set((1L, "a"), (2L, "b")))
      t.append(Seq((3L, "c")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.table("log_stream_1").as[(Long, String)].collect().toSet
        == Set((1L, "a"), (2L, "b"), (3L, "c")))
      // OPTIMIZE is dataChange=false: stream unaffected, no re-emit
      t.compactFiles(spark, smallBytes = 32L << 20)
      t.append(Seq((4L, "d")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.table("log_stream_1").count() == 4L)
    } finally q.stop()
  }

  test("a CONVERTED table streams its seed as inserts (Delta's " +
    "behavior for CONVERT), then follows appends") {
    val dir = s"${tmp()}/t"
    val src = new LogTable(dir)
    src.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(1))
    graft.sources.DeltaExport.exportDeltaLog(spark, src)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir, "_log")) // pure Delta table remains
    val conv = graft.sources.DeltaExport.convertFromDelta(spark, dir)
    val q = startQuery(dir, "log_stream_convert")
    try {
      q.processAllAvailable()
      assert(spark.table("log_stream_convert")
        .as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b")),
        "the conversion seed must stream as inserts")
      conv.append(Seq((3L, "c")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.table("log_stream_convert").count() == 3L)
    } finally q.stop()
  }

  test("streaming from a PARTITIONED log table resolves the " +
    "partition column from the hive dirs") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.create(org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, region STRING"), partitionBy = Seq("region"))
    t.append(Seq((1L, "eu"), (2L, "us")).toDF("k", "region"))
    val q = startQuery(dir, "log_stream_part")
    try {
      q.processAllAvailable()
      assert(spark.table("log_stream_part").as[(Long, String)]
        .collect().toSet == Set((1L, "eu"), (2L, "us")))
      t.append(Seq((3L, "ap")).toDF("k", "region"))
      q.processAllAvailable()
      assert(spark.table("log_stream_part").as[(Long, String)]
        .collect().toSet == Set((1L, "eu"), (2L, "us"), (3L, "ap")))
    } finally q.stop()
  }

  test("a row-level change commit fails the stream by default; " +
    "skipChangeCommits passes over it and keeps tailing appends") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val q = startQuery(dir, "log_stream_2")
    try {
      q.processAllAvailable()
      t.delete(spark, col("k") === 1L)
      val err = intercept[Exception](q.processAllAvailable())
      assert(err.getMessage.contains("append-only") ||
        Option(err.getCause).exists(_.getMessage.contains("append-only")),
        s"unexpected: ${err.getMessage}")
    } finally q.stop()
    val q2 = startQuery(dir, "log_stream_3", skipChanges = true)
    try {
      q2.processAllAvailable()
      // the delete's rewritten file is NOT re-emitted; history up to
      // the change commit flows (it predates the delete)
      assert(spark.table("log_stream_3").as[(Long, String)].collect().toSet
        == Set((1L, "a"), (2L, "b")))
      t.append(Seq((9L, "z")).toDF("k", "v"))
      q2.processAllAvailable()
      assert(spark.table("log_stream_3").as[(Long, String)].collect().toSet
        == Set((1L, "a"), (2L, "b"), (9L, "z")))
    } finally q2.stop()
  }

  test("restart from a checkpoint resumes at the committed offset — " +
    "no duplicates, no gaps") {
    val dir = s"${tmp()}/t"
    val ckpt = s"${tmp()}/ckpt"
    val out = s"${tmp()}/out"
    val t = new LogTable(dir)
    // a recoverable (file) sink: the memory sink cannot restart
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[LogStreamProvider].getName)
        .option("path", dir).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(50))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    t.append(Seq((1L, "a")).toDF("k", "v"))
    run()
    assert(spark.read.parquet(out).count() == 1L)
    // appends while the subscriber is down
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.append(Seq((3L, "c")).toDF("k", "v"))
    run()
    // exactly once: the down-time commits arrive, nothing re-emits
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(spark.read.parquet(out).count() == 3L)
  }

  test("readChangeFeed streams row-level changes: deletes flow as " +
    "delete rows instead of failing the stream") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val q = spark.readStream
      .format(classOf[LogStreamProvider].getName)
      .option("path", dir).option("readChangeFeed", "true")
      .load().writeStream.format("memory").queryName("log_cdf_stream")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("log_cdf_stream")
        .select("k", "v", "_change_type", "_commit_version")
        .as[(Long, String, String, Long)].collect().toSet ==
        Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L)))
      t.delete(spark, col("k") === 1L)
      q.processAllAvailable()
      assert(spark.table("log_cdf_stream")
        .filter(col("_change_type") === "delete")
        .select("k").as[Long].collect().toSeq == Seq(1L))
    } finally q.stop()
  }

  test("restore rolls back to a prior version by reference and the " +
    "rolled-back history stays travelable") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a")).toDF("k", "v"))            // v0
    t.append(Seq((2L, "b")).toDF("k", "v"))            // v1
    t.delete(spark, col("k") === 1L)                    // v2
    val v = t.restore(1L)                               // v3
    assert(t.commitOp(v) == "restore")
    assert(t.load(spark).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
    // the delete's state is still addressable as a version
    assert(t.load(spark, Some(2L)).as[(Long, String)].collect().toSet
      == Set((2L, "b")))
    // restore re-added the ORIGINAL file, not a copy
    val v0File = t.addedPaths(0L).head
    assert(t.liveAdds().map(_.path).contains(v0File))
  }

  test("appendStreamBatch deduplicates a replayed batch id") {
    val t = new LogTable(s"${tmp()}/t")
    assert(t.appendStreamBatch(Seq((1L, "a")).toDF("k", "v"),
      "app1", 0L).isDefined)
    assert(t.appendStreamBatch(Seq((1L, "a")).toDF("k", "v"),
      "app1", 0L).isEmpty) // replay dropped
    assert(t.appendStreamBatch(Seq((2L, "b")).toDF("k", "v"),
      "app1", 1L).isDefined)
    // a DIFFERENT app's stream is independent
    assert(t.appendStreamBatch(Seq((3L, "c")).toDF("k", "v"),
      "app2", 0L).isDefined)
    assert(t.load(spark).count() == 3L)
    assert(t.lastCommittedBatch("app1").contains(1L))
    assert(t.lastCommittedBatch("app2").contains(0L))
  }

  test("appendStreamBatch refuses a frame with an extra or a missing " +
    "column exactly as append does, and leaves nothing behind") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a")).toDF("k", "v"))                  // v0
    val extra = Seq((2L, "b", 9)).toDF("k", "v", "x")
    val missing = Seq(3L).toDF("k")
    Seq(extra -> "not in the table", missing -> "lacks table column")
      .foreach { case (df, why) =>
        val viaAppend = intercept[IllegalArgumentException](t.append(df))
        val viaStream = intercept[IllegalArgumentException](
          t.appendStreamBatch(df, "app1", 0L))
        assert(viaStream.getMessage.contains(why))
        assert(viaStream.getMessage == viaAppend.getMessage)
      }
    assert(t.currentVersion.contains(0L))
    assert(t.lastCommittedBatch("app1").isEmpty)
    assert(entriesUnder(dir, "_staging").isEmpty)
    assert(t.load(spark).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("log-to-log replication is exactly-once across a sink " +
    "restart") {
    val src = new LogTable(s"${tmp()}/src")
    val dstDir = s"${tmp()}/dst"
    val ckpt = s"${tmp()}/ckpt"
    def replicate(): Unit = {
      val q = spark.readStream
        .format(classOf[LogStreamProvider].getName)
        .option("path", src.path).load()
        .writeStream.format(classOf[LogStreamProvider].getName)
        .option("path", dstDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(50))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    src.append(Seq((1L, "a")).toDF("k", "v"))
    replicate()
    val dst = new LogTable(dstDir)
    assert(dst.load(spark).as[(Long, String)].collect().toSet
      == Set((1L, "a")))
    // appends while the replica is down, then a restart
    src.append(Seq((2L, "b")).toDF("k", "v"))
    src.append(Seq((3L, "c")).toDF("k", "v"))
    replicate()
    assert(dst.load(spark).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(dst.load(spark).count() == 3L) // no duplicate rows
  }

  test("history lists one row per commit with op and file counts") {
    val dir = s"${tmp()}/t"
    val ticks = Iterator(1000L, 2000L, 3000L)
    val t = new LogTable(dir, () => ticks.next())
    t.append(Seq((1L, "a")).toDF("k", "v").repartition(1))
    t.append(Seq((2L, "b")).toDF("k", "v").repartition(1))
    t.delete(spark, col("k") === 1L)
    val h = t.history(spark)
      .select("version", "commit_ts", "op", "n_added", "n_removed")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(h == Seq(
      (0L, 1000L, "append", 1L, 0L),
      (1L, 2000L, "append", 1L, 0L),
      (2L, 3000L, "delete", 0L, 1L))) // delete leaves no survivors
  }

  test("maxFilesPerTrigger drains a multi-commit backlog across " +
    "several micro-batches — exact rows, checkpoint restart " +
    "mid-backlog included") {
    val dir = s"${tmp()}/t"
    val ckpt = s"${tmp()}/ckpt"
    val out = s"${tmp()}/out"
    val t = new LogTable(dir)
    // an 8-commit backlog BEFORE the subscriber ever starts — the
    // catch-up case read limits exist for
    (1 to 8).foreach(i =>
      t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").repartition(1)))
    def run(): Long = {
      val q = spark.readStream
        .format(classOf[LogStreamProvider].getName)
        .option("path", dir)
        .option("maxFilesPerTrigger", "2") // = 2 commits (1 file each)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(10))
        .start()
      try {
        q.processAllAvailable()
        q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    val batches = run()
    // 8 one-file commits / 2 files per trigger = at least 4 batches
    assert(batches >= 4,
      s"backlog drained in $batches batches — read limit not applied")
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet
      == (1 to 8).map(i => (i.toLong, s"v$i")).toSet)
    assert(spark.read.parquet(out).count() == 8L)
    // restart mid-backlog: more commits while down, then resume —
    // still rate-limited, exactly-once
    (9 to 12).foreach(i =>
      t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").repartition(1)))
    val batches2 = run()
    assert(batches2 >= 2)
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet
      == (1 to 12).map(i => (i.toLong, s"v$i")).toSet)
    assert(spark.read.parquet(out).count() == 12L)
  }

  test("maxBytesPerTrigger admits at least one commit per batch " +
    "even when a single commit exceeds the budget") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    (1 to 3).foreach(i =>
      t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").repartition(1)))
    val q = spark.readStream
      .format(classOf[LogStreamProvider].getName)
      .option("path", dir)
      .option("maxBytesPerTrigger", "1") // every commit is bigger
      .load()
      .writeStream.format("memory").queryName("log_stream_bytes")
      .trigger(Trigger.ProcessingTime(10))
      .start()
    try {
      q.processAllAvailable()
      // progress guaranteed: one oversized commit per micro-batch
      assert(spark.table("log_stream_bytes").count() == 3L)
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    } finally q.stop()
  }

  test("round-10 startingVersion / startingTimestamp (Delta's " +
    "options): the stream begins at the declared point INSTEAD of " +
    "the initial snapshot; 'latest' serves only post-start commits; " +
    "both-set and future-timestamp refuse") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v0
    Thread.sleep(40)
    t.append(Seq((3L, "c")).toDF("k", "v"))            // v1
    Thread.sleep(40)
    t.append(Seq((4L, "d")).toDF("k", "v"))            // v2
    def reader = spark.readStream
      .format(classOf[graft.sources.LogStreamProvider].getName)
      .option("path", dir)
    // startingVersion = 1: v0's snapshot never flows
    val q1 = reader.option("startingVersion", "1").load()
      .writeStream.format("memory").queryName("sv_from1").start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table("sv_from1").select("k").as[Long]
      .collect().sorted.toSeq == Seq(3L, 4L))
    // startingTimestamp at v2's commit instant: only v2 flows.
    // (Integer-string convention: a pure-integer startingTimestamp
    // refuses — integers mean VERSIONS, startingVersion's surface.)
    def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val q2 = reader
      .option("startingTimestamp", iso(t.commitTime(2L))).load()
      .writeStream.format("memory").queryName("sv_fromts").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("sv_fromts").select("k").as[Long]
      .collect().toSeq == Seq(4L))
    val qInt = reader
      .option("startingTimestamp", t.commitTime(2L).toString).load()
      .writeStream.format("memory").queryName("sv_intts").start()
    val eInt = intercept[Exception](
      try qInt.processAllAvailable() finally qInt.stop())
    def chain0(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ chain0(x.getCause)
    assert(chain0(eInt).exists(_.contains("startingVersion")),
      chain0(eInt))
    // 'latest': nothing historical, only commits made after start
    val q3 = reader.option("startingVersion", "latest").load()
      .writeStream.format("memory").queryName("sv_latest").start()
    try {
      q3.processAllAvailable()
      assert(spark.table("sv_latest").isEmpty)
      t.append(Seq((5L, "e")).toDF("k", "v"))
      q3.processAllAvailable()
      assert(spark.table("sv_latest").select("k").as[Long]
        .collect().toSeq == Seq(5L))
    } finally q3.stop()
    // both options refuse; a future timestamp refuses
    def chain(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ chain(x.getCause)
    val qBoth = reader.option("startingVersion", "0")
      .option("startingTimestamp", "2020-01-01 00:00:00").load()
      .writeStream.format("memory").queryName("sv_both").start()
    val eBoth = intercept[Exception](
      try qBoth.processAllAvailable() finally qBoth.stop())
    assert(chain(eBoth).exists(_.contains("not both")), chain(eBoth))
    val qFut = reader
      .option("startingTimestamp",
        iso(t.commitTime(t.currentVersion.get) + 3600000L)).load()
      .writeStream.format("memory").queryName("sv_future").start()
    val eFut = intercept[Exception](
      try qFut.processAllAvailable() finally qFut.stop())
    assert(chain(eFut).exists(_.contains("after the latest commit")),
      chain(eFut))
  }

  test("round-10 review fixes: a FUTURE startingVersion admits " +
    "nothing below it even after the empty pre-start offset " +
    "commits; startingVersion 0 on an expired log refuses like " +
    "every other below-floor start") {
    val dir = s"${tmp()}/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a")).toDF("k", "v")) // v0
    val startAt = t.currentVersion.get + 2  // v2 — not committed yet
    val q = spark.readStream
      .format(classOf[graft.sources.LogStreamProvider].getName)
      .option("path", dir)
      .option("startingVersion", startAt.toString).load()
      .writeStream.format("memory").queryName("sv_future_v").start()
    try {
      q.processAllAvailable() // the empty pre-start batch commits
      assert(spark.table("sv_future_v").isEmpty)
      t.append(Seq((2L, "b")).toDF("k", "v")) // v1 — below the start
      q.processAllAvailable()
      assert(spark.table("sv_future_v").isEmpty,
        "a commit below the declared start leaked into the stream")
      t.append(Seq((3L, "c")).toDF("k", "v")) // v2 — the start
      q.processAllAvailable()
      assert(spark.table("sv_future_v").select("k").as[Long]
        .collect().toSeq == Seq(3L))
    } finally q.stop()
    // startingVersion 0 encodes as the fresh-stream sentinel — it
    // must refuse on an expired log, not silently serve the floor
    // snapshot as if no start had been declared
    val dir2 = s"${tmp()}/t"
    val t2 = new LogTable(dir2, checkpointInterval = 100)
    (0 until 5).foreach(i =>
      t2.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    t2.expireSnapshots(retainLast = 2)
    def chain(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ chain(x.getCause)
    val q2 = spark.readStream
      .format(classOf[graft.sources.LogStreamProvider].getName)
      .option("path", dir2).option("startingVersion", "0").load()
      .writeStream.format("memory").queryName("sv_zero_exp").start()
    val e = intercept[Exception](
      try q2.processAllAvailable() finally q2.stop())
    assert(chain(e).exists(_.contains("predates the earliest")),
      chain(e))
  }

  test("round-11 Trigger.AvailableNow: the backfill idiom — drain " +
    "everything available at start in rate-limited batches, " +
    "terminate, and let a restart continue from the checkpoint") {
    val base = tmp()
    val dir = s"$base/t"
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val t = new LogTable(dir)
    (0 until 4).foreach(i =>
      t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").repartition(1)))
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.LogStreamProvider].getName)
        .option("path", dir)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000),
        "AvailableNow query did not terminate")
    }
    drain()
    assert(spark.read.parquet(out).select("k").as[Long]
      .collect().sorted.toSeq == (0L to 3L))
    // the rate limit held across the drain: one 1-file commit per
    // batch → one offset entry per commit
    def batches(): Int = new java.io.File(s"$ckpt/offsets")
      .listFiles().count(f => f.getName.forall(_.isDigit))
    assert(batches() == 4, s"expected 4 rate-limited batches")
    // restart after downtime commits: only the delta drains, again
    // one commit per batch, and the query terminates again
    t.append(Seq((4L, "v4")).toDF("k", "v").repartition(1))
    t.append(Seq((5L, "v5")).toDF("k", "v").repartition(1))
    drain()
    assert(spark.read.parquet(out).select("k").as[Long]
      .collect().sorted.toSeq == (0L to 5L))
    assert(batches() == 6, s"restart must continue from the offset")
  }

  test("round-11 Trigger.AvailableNow × readChangeFeed: a CDF " +
    "backfill drains delete rows too, honors the budget walk, and " +
    "terminates") {
    val base = tmp()
    val dir = s"$base/t"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    t.append(Seq((3L, "c")).toDF("k", "v").repartition(1))
    t.delete(spark, col("k") === 1L)
    val q = spark.readStream
      .format(classOf[graft.sources.LogStreamProvider].getName)
      .option("path", dir)
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "CDF AvailableNow did not stop")
    val out = spark.read.parquet(s"$base/out")
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "insert"), (2L, "insert"), (3L, "insert"),
      (1L, "delete")), out)
  }

  test("round-11: startingVersion='latest' resolves ONCE — a " +
    "checkpointed restart after downtime serves the commits made " +
    "while the stream was down instead of re-resolving against the " +
    "restart-time head and skipping them") {
    val base = tmp()
    val dir = s"$base/t"
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val t = new LogTable(dir)
    t.append(Seq((1L, "a")).toDF("k", "v")) // v0 — pre-start history
    def start() = spark.readStream
      .format(classOf[graft.sources.LogStreamProvider].getName)
      .option("path", dir)
      .option("startingVersion", "latest").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    def ks(): Seq[Long] = spark.read.parquet(out)
      .select("k").as[Long].collect().sorted.toSeq
    val q1 = start()
    try {
      q1.processAllAvailable()
      t.append(Seq((2L, "b")).toDF("k", "v")) // v1 — live commit
      q1.processAllAvailable()
      assert(ks() == Seq(2L)) // 'latest': no history flowed
    } finally q1.stop()
    // DOWNTIME: commits land while no query is running. A restart
    // that re-resolved 'latest' would clamp past them — data loss.
    t.append(Seq((3L, "c")).toDF("k", "v")) // v2
    t.append(Seq((4L, "d")).toDF("k", "v")) // v3
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(ks() == Seq(2L, 3L, 4L),
        "commits made during downtime were skipped by a " +
          "re-resolved 'latest' start")
    } finally q2.stop()
  }
}
