package graft

import graft.operators.Analytics
import graft.sources.LogTable
import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val events = Seq(
    Event(1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
    Event(2L, ts("2024-01-01 00:20:00"), 2L, "view", 2.0),
    Event(3L, ts("2024-01-01 01:10:00"), 1L, "click", 3.0),
    Event(4L, ts("2024-01-01 01:40:00"), 1L, "purchase", 4.0),
    Event(5L, ts("2024-01-01 02:05:00"), 2L, "click", 5.0))

  test("streaming windowedAgg matches the batch twin on bounded input") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = Streams.windowedAgg(mem.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_out")
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Analytics.windowedEvents(events.toDF())
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("ingestWithManifest: incremental == full rebuild; reads skip files") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_smani")
    val data = tmp.resolve("data").toString
    val mani = tmp.resolve("manifest").toString
    val mem = MemoryStream[(Long, Double)]
    val q = Streams.ingestWithManifest(
      mem.toDF().toDF("id", "price").repartition(2),
      data, mani, "price", tmp.resolve("ckpt").toString)
    try {
      mem.addData((1 to 100).map(i => (i.toLong, i * 10.0)): _*)
      q.processAllAvailable()
      mem.addData((101 to 200).map(i => (i.toLong, i * 10.0)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val manifest = spark.read.parquet(mani)
    // per-batch increments compose to exactly the full-table manifest
    // (the batch=N layout surfaces as a discovered partition column)
    val full = graft.sources.Tables.buildManifest(spark, data, "price")
    val inc = manifest.drop("batch")
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    // a range covering only batch 0's keys reads only batch 0's files
    val files = graft.sources.Tables.pruneFiles(manifest,
      lit(50.0), lit(300.0))
    assert(files.nonEmpty && files.forall(_.contains("batch=0")) &&
      files.length < manifest.count(),
      s"kept ${files.mkString(", ")}")
    val pruned = graft.sources.Tables.manifestPrunedRead(spark, data,
      files.toSeq, "price", lit(50.0), lit(300.0)).select("id")
    val direct = spark.read.parquet(data)
      .where(col("price").between(50.0, 300.0)).select("id")
    assert(pruned.exceptAll(direct).isEmpty &&
      direct.exceptAll(pruned).isEmpty)
    // simulated post-crash replay of batch 1's metadata commit: the
    // overwrite discipline must leave the manifest multiset unchanged
    // (an append-mode manifest would now double-count batch 1)
    graft.sources.Tables.buildManifest(spark, s"$data/batch=1", "price")
      .write.mode("overwrite").parquet(s"$mani/batch=1")
    val after = spark.read.parquet(mani).drop("batch")
    assert(after.exceptAll(full).isEmpty && full.exceptAll(after).isEmpty)
  }

  test("spanLoadPerHour: append-mode flush matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(
      (ts("2024-01-01 00:10:00"), ts("2024-01-01 02:30:00")), // 00,01,02
      (ts("2024-01-01 00:20:00"), ts("2024-01-01 00:40:00")), // 00
      (ts("2024-01-01 01:00:00"), ts("2024-01-01 01:00:00")), // dropped
      (ts("2024-01-01 03:00:00"), ts("2024-01-01 03:00:01")), // 03
      (ts("2024-01-01 00:05:00"), ts("2024-01-01 06:05:00"))) // 00..06
    // arrives AFTER the 6-hour span pushed max event time to 06:00:
    // its hours 00/01 survive only because the watermark delay
    // covers lateness + maxSpanHours (a lateness-only delay would
    // have finalized those windows and silently dropped these rows)
    val batch2 = Seq(
      (ts("2024-01-01 00:30:00"), ts("2024-01-01 01:40:00"))) // 00,01
    val mem = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp)]
    val q = Streams.spanLoadPerHour(mem.toDF().toDF("s", "e"), "s", "e")
      .writeStream.format("memory").queryName("span_out")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // a far-future heartbeat advances the watermark past hour 06,
      // flushing every real window (its own window stays open)
      mem.addData((ts("2024-01-01 20:00:00"), ts("2024-01-01 20:00:01")))
      q.processAllAvailable()
    } finally q.stop()
    def fmt(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getTimestamp(0).toString.substring(11, 13),
        r.getLong(1)))
    val got = fmt(spark.table("span_out").orderBy("hour").collect())
    val expected = Array(("00", 4L), ("01", 3L), ("02", 2L), ("03", 2L),
      ("04", 1L), ("05", 1L), ("06", 1L))
    assert(got.sameElements(expected), got.mkString(", "))
    // batch twin (watermark is a no-op on bounded data)
    val batch = fmt(Streams.spanLoadPerHour(
      (batch1 ++ batch2).toDF("s", "e"), "s", "e")
      .orderBy("hour").collect())
    assert(batch.sameElements(expected), batch.mkString(", "))
  }

  test("streaming windowedApproxDistinct matches exact counts on bounded input") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = Streams.windowedApproxDistinct(mem.toDF())
      .writeStream.format("memory").queryName("adist_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("adist_out")
      .orderBy("win_start", "event_type")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSeq
    // at 5 events the HLL++ sketch is exact; window boundaries and
    // group keys must line up with the batch formulation
    val exact = events.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("win_start"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("win_start", "event_type")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSeq
    assert(streamed == exact)
  }

  test("windowedTrendingTerms surfaces heavy hitters per window") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(ts: java.sql.Timestamp, text: String)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:10:00")
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    // window 1: "alpha" dominates; window 2: "beta" dominates
    mem.addData((1 to 20).map(i => (t0, s"alpha filler$i")) ++
      (1 to 20).map(i => (t1, s"beta other$i")): _*)
    val q = Streams.windowedTrendingTerms(
      mem.toDF().toDF("ts", "text"), k = 3, capacity = 32)
      .writeStream.format("memory").queryName("trend_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("trend_out").orderBy("win_start")
      .select(col("win_start"),
        org.apache.spark.sql.functions.expr("top[0].term").as("top1"))
      .as[(java.sql.Timestamp, String)].collect().toSeq
    assert(rows.map(_._2) == Seq("alpha", "beta"))
  }

  test("streamingScd1 keeps last-writer-wins state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.streamingScd1(mem.toDS())
      .writeStream.format("memory").queryName("scd1_out")
      .outputMode("update").start()
    try {
      mem.addData(events.take(2): _*)
      q.processAllAvailable()
      mem.addData(events.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.table("scd1_out")
      .groupBy("user_id").agg(last("event_type").as("event_type"))
      .orderBy("user_id")
      .as[(Long, String)].collect().toSeq
    assert(state == Seq((1L, "purchase"), (2L, "click")))
  }

  test("streamingSessionize closes sessions on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.streamingSessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 50-min
      // gap inside the same batch → first session closes in-batch
      mem.addData(
        Event(1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
        Event(2L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0),
        Event(3L, ts("2024-01-01 01:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far past user 1's last event + gap so
      // the open session times out and flushes
      mem.addData(Event(9L, ts("2024-01-01 09:00:00"), 2L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(10L, ts("2024-01-01 23:00:00"), 2L, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess_out")
      .orderBy("user_id", "session_start")
      .as[Streams.SessionOut].collect().toSeq
    val u1 = out.filter(_.user_id == 1L)
    assert(u1.map(s => (s.session_start, s.session_end, s.n_events)) == Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2L),
      (ts("2024-01-01 01:00:00"), ts("2024-01-01 01:00:00"), 1L)))
  }

  test("maintainAggregate: the view tracks every micro-batch, and a " +
    "restart from the checkpoint replays without double-counting") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.MaterializedAgg
    val dir = java.nio.file.Files.createTempDirectory("graft_smv").toString
    val basePath = s"$dir/base"
    val mvPath = s"$dir/mv"
    new LogTable(basePath).append(
      Seq((0L, "g0", 1.0)).toDF("id", "grp", "x"))
    MaterializedAgg.create(spark, basePath, mvPath, Seq("grp"), "x")

    def check(): Unit = {
      val got = MaterializedAgg.read(spark, mvPath)
        .select(col("grp"), col("cnt"),
          col("sum_v").cast("double").as("sv"))
        .as[(String, Long, Double)].collect().toSeq.sorted
      val want = new LogTable(basePath).load(spark)
        .groupBy("grp").agg(count(lit(1)).as("cnt"),
          sum(col("x").cast("decimal(28,4)")).cast("double").as("sv"))
        .as[(String, Long, Double)].collect().toSeq.sorted
      assert(got == want)
    }

    val mem = MemoryStream[(Long, String, Double)]
    def start() = Streams.maintainAggregate(
      mem.toDF().toDF("id", "grp", "x"), basePath, mvPath,
      "smv_test", s"$dir/ckpt")
    val q = start()
    try {
      mem.addData((1L, "g1", 2.0), (2L, "g0", 3.0))
      q.processAllAvailable()
      check()
      mem.addData((3L, "g1", 4.0))
      q.processAllAvailable()
      check()
    } finally q.stop()
    // restart from the same checkpoint: any batch the engine replays
    // must deduplicate at the base commit layer, not double-count
    val q2 = start()
    try {
      mem.addData((4L, "g2", 5.0))
      q2.processAllAvailable()
      check()
    } finally q2.stop()
    assert(new LogTable(basePath).load(spark).count() == 5L)
  }

  test("sinkToDim maintains an SCD2 dimension across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val cfg = graft.operators.Pipeline.TableConfig("user_dim",
      keyCols = Seq("user_id"), attrCols = Seq("event_type"),
      recencyCols = Seq("ts", "event_id"))
    val mem = MemoryStream[Event]
    val q = Streams.sinkToDim(mem.toDF(), cfg, "ts",
      s"$dir/dim", s"$dir/ckpt")
    try {
      mem.addData(Event(1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(
        Event(2L, ts("2024-01-02 00:00:00"), 1L, "purchase", 1.0),
        Event(3L, ts("2024-01-02 00:00:00"), 2L, "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val log = new LogTable(s"$dir/dim")
    // one log commit per non-empty micro-batch
    assert(log.versions == Seq(0L, 1L))
    val dim = log.load(spark)
      .orderBy("user_id", "valid_from")
      .select("user_id", "event_type", "is_current")
      .as[(Long, String, Boolean)].collect().toSeq
    assert(dim == Seq(
      (1L, "click", false),
      (1L, "purchase", true),
      (2L, "view", true)))
  }

  test("enrichWithScd2 joins each fact to its covering dim version") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(
      (1L, "v1", ts("2024-01-01 00:00:00"),
        Some(ts("2024-01-01 01:00:00")), false),
      (1L, "v2", ts("2024-01-01 01:00:00"), None, true))
      .toDF("user_id", "ver", "valid_from", "valid_to", "is_current")
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1L, ts("2024-01-01 00:30:00"), 1L, "click", 1.0), // → v1
      Event(2L, ts("2024-01-01 01:00:00"), 1L, "view", 1.0),  // boundary → v2
      Event(3L, ts("2024-01-01 02:00:00"), 2L, "click", 1.0)) // no dim row
    val q = Streams.enrichWithScd2(mem.toDF(), "user_id", "ts",
      dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("enrich_out").orderBy("event_id")
      .select("event_id", "ver").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "v1"), (2L, "v2")))
  }

  test("attributionJoin pairs purchases with in-window views only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0),
      Event(2L, ts("2024-01-01 00:30:00"), 1L, "purchase", 9.0), // ← e1
      Event(3L, ts("2024-01-01 03:00:00"), 1L, "purchase", 7.0), // too late
      Event(4L, ts("2024-01-01 00:10:00"), 2L, "view", 0.0))     // other user
    val q = Streams.attributionJoin(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("attr_out")
      .select("view_id", "purchase_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("abandonmentJoin emits matched views immediately and " +
    "unmatched views exactly once after the watermark proves them " +
    "unmatchable") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0),     // converts
      Event(2L, ts("2024-01-01 00:30:00"), 1L, "purchase", 9.0),
      Event(3L, ts("2024-01-01 00:05:00"), 2L, "view", 0.0),     // abandoned
      Event(4L, ts("2024-01-01 03:30:00"), 2L, "purchase", 5.0)) // too late
    val q = Streams.abandonmentJoin(mem.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("abandon_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance BOTH watermarks far past every window end so held
      // outer state becomes provably unmatchable and flushes
      mem.addData(
        Event(8L, ts("2024-01-02 12:00:00"), 9L, "view", 0.0),
        Event(9L, ts("2024-01-02 12:00:00"), 9L, "purchase", 1.0))
      q.processAllAvailable()
      mem.addData(Event(10L, ts("2024-01-03 12:00:00"), 9L, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("abandon_out")
      .select("view_id", "purchase_id", "abandoned")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))).toSet
    // view 1 matched purchase 2; view 3 abandoned (its only purchase
    // came 3.5h later, outside the 1h window); heartbeat view 8
    // matched purchase 9 same-instant
    assert(out.contains((1L, 2L, false)))
    assert(out.contains((3L, -1L, true)))
    assert(out.contains((8L, 9L, false)))
    // exactly-once: no duplicate emission for the abandoned view
    assert(spark.table("abandon_out")
      .filter(col("view_id") === 3L).count() == 1L)
  }

  test("decontaminateStream drops exactly the docs overlapping the eval set") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, text: String)
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    mem.addData(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 4-shingles
      (2L, "one two three four five six"),         // clean
      (3L, "beta gamma delta epsilon prefix"))     // shares one shingle
    val q = Streams.decontaminateStream(
      mem.toDF().toDF("doc_id", "text"), bench, n = 4)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("decon_out").select("doc_id")
      .as[Long].collect().toSeq.sorted
    assert(kept == Seq(2L))
    // batch twin agrees
    val batchKept = graft.operators.Decontam.decontaminate(
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six"),
        (3L, "beta gamma delta epsilon prefix")).toDF("doc_id", "text"),
      bench, n = 4)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(batchKept == kept)
  }

  test("curateStream gates quality, redacts PII and annotates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(
      (1L, "the quick brown fox jumps over the dog from user1@mail.example"),
      (2L, "short"),                                  // < minWords → dropped
      (3L, "!!! ??? ... !!! ??? ... !!! ??? wat"))    // punct-heavy → dropped
    val q = Streams.curateStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("curate_out")
      .select("doc_id", "text", "lang_guess", "n_bpe_tokens")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L))
    assert(out.head._2.contains("[EMAIL]") &&
      !out.head._2.contains("user1@mail.example"))
    assert(out.head._3 == "en")
    assert(out.head._4 > 8L)
  }

  test("scoreStream: frozen-model scoring equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "low low lower newest"), (2L, "newest widest"))
      .toDF("doc_id", "text")
    val table = graft.operators.Bpe.train(corpus, merges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val probe = Seq((10L, "lowest newest"), (11L, "wide low"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(probe: _*)
    val q = Streams.scoreStream(mem.toDF().toDF("doc_id", "text"), table)
      .writeStream.format("memory").queryName("score_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("score_out")
      .select("doc_id", "quality", "n_bpe_tokens")
      .as[(Long, Double, Long)].collect().toSeq.sortBy(_._1)
    val batchDf = probe.toDF("doc_id", "text")
    val wantScores = graft.operators.TextAnalysis.classifierScore(batchDf)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val wantCounts = graft.operators.Bpe.encode(batchDf, table)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(streamed == probe.map(_._1).sorted
      .map(id => (id, wantScores(id), wantCounts(id))))
  }

  test("built-in session_window agrees with the fMGWS sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    // sessions: u1 [00:00-00:10] (2 events), u1 [01:00] (1), u2 [02:00]
    val fixture = Seq(
      Event(1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      Event(2L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0),
      Event(3L, ts("2024-01-01 01:00:00"), 1L, "click", 1.0),
      Event(4L, ts("2024-01-01 02:00:00"), 2L, "click", 1.0))
    val mem = MemoryStream[Event]
    mem.addData(fixture: _*)
    // close every session: advance the watermark far past the data
    mem.addData(Event(99L, ts("2024-01-02 12:00:00"), 3L, "click", 1.0))
    val q = Streams.sessionWindowAgg(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val builtIn = spark.table("sw_out")
      .filter(col("user_id") =!= 3L)
      .orderBy("user_id", "session_start")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
    // fMGWS twin on the same bounded input
    val mem2 = MemoryStream[Event]
    mem2.addData(fixture: _*)
    mem2.addData(Event(99L, ts("2024-01-02 12:00:00"), 3L, "click", 1.0))
    val q2 = Streams.streamingSessionize(mem2.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("fmgws_out")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val fmgws = spark.table("fmgws_out")
      .filter(col("user_id") =!= 3L)
      .orderBy("user_id", "session_start")
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
    assert(builtIn == fmgws)
    assert(builtIn.map(r => (r._1, r._3)) == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("RocksDB state store: stateful query survives kill and resume") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_rocks").toString
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      // memory sink cannot recover from a checkpoint; foreachBatch can
      def start() = Streams.streamingScd1(mem.toDS())
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("update")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Streams.UserState], id: Long) =>
            b.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(s"$dir/out")
        }
        .start()
      // batch 1: user 1 reaches state (ts 01:40, purchase)
      val q1 = start()
      try {
        mem.addData(
          Event(1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
          Event(4L, ts("2024-01-01 01:40:00"), 1L, "purchase", 4.0))
        q1.processAllAvailable()
      } finally q1.stop() // kill mid-stream
      // resume from the checkpoint: recovered RocksDB state must win
      // over an OLDER event — if state had been lost, "view"@00:30
      // would become current
      val q2 = start()
      try {
        mem.addData(Event(9L, ts("2024-01-01 00:30:00"), 1L, "view", 1.0))
        q2.processAllAvailable()
      } finally q2.stop()
      val rows = spark.read.parquet(s"$dir/out")
        .orderBy(col("batch_id").desc).select("user_id", "event_type")
        .as[(Long, String)].collect()
      assert(rows.head == (1L, "purchase"),
        s"recovered state must keep the newer event, got ${rows.toSeq}")
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint recovery replays no batch: sessionize state resumes") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[Event]
    def start() = Streams.streamingSessionize(mem.toDS(), gapMinutes = 30)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[Streams.SessionOut], id: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(s"$dir/out")
      }
      .start()
    // batch 1 leaves an OPEN session for user 1 in the state store
    val q1 = start()
    try {
      mem.addData(Event(1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // after resume, an event 10 min later must EXTEND the recovered
    // open session (lost state would start a fresh session of 1)
    val q2 = start()
    try {
      mem.addData(Event(2L, ts("2024-01-01 00:10:00"), 1L, "view", 1.0))
      q2.processAllAvailable()
      mem.addData(Event(3L, ts("2024-01-02 12:00:00"), 2L, "click", 1.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val u1 = spark.read.parquet(s"$dir/out").filter(col("user_id") === 1L)
      .as[Streams.SessionOut].collect().toSeq
    assert(u1.map(s => (s.session_start, s.session_end, s.n_events)) ==
      Seq((ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2L)))
  }

  test("versioned-dim enrichment pins a snapshot per batch under commits") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_vdim").toString
    val log = new LogTable(s"$dir/dim")
    // v0: user 1 → "bronze"
    log.overwrite(Seq((1L, "bronze", ts("2024-01-01 00:00:00"),
      None: Option[java.sql.Timestamp], true))
      .toDF("user_id", "tier", "valid_from", "valid_to", "is_current"))
    val mem = MemoryStream[Event]
    val q = Streams.enrichAgainstVersionedDim(mem.toDF(), "user_id", "ts",
      log, "user_id", s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData(Event(1L, ts("2024-01-01 01:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // concurrent commit: v1 closes bronze, opens "gold"
      log.overwrite(Seq(
        (1L, "bronze", ts("2024-01-01 00:00:00"),
          Some(ts("2024-01-01 02:00:00")), false),
        (1L, "gold", ts("2024-01-01 02:00:00"),
          None: Option[java.sql.Timestamp], true))
        .toDF("user_id", "tier", "valid_from", "valid_to", "is_current"))
      mem.addData(Event(2L, ts("2024-01-01 03:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out").orderBy("event_id")
      .select("event_id", "tier", "dim_version")
      .as[(Long, String, Long)].collect().toSeq
    // batch 1 enriched against v0, batch 2 against v1 — and v0 stays
    // time-travel-readable after v1 committed
    assert(out == Seq((1L, "bronze", 0L), (2L, "gold", 1L)))
    assert(log.load(spark, Some(0L)).count() == 1)
    assert(log.versions == Seq(0L, 1L))
  }

  test("streamingDedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(events ++ Seq(events.head.copy(value = 99.0)): _*)
    val q = Streams.streamingDedup(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup_out").count() == 5)
  }

  test("transformWithState TTL dedup keeps firsts and re-opens after expiry") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_tws").toString
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevCk = spark.conf.getOption(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the async checksum writer can deadlock transformWithState's
    // many per-batch state files on a small local[] pool
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "false")
    try {
      // ProcessingTime mode keeps scheduling batches to advance TTL
      // time (processAllAvailable never quiesces, and even
      // AvailableNow keeps re-triggering on requires-another-batch),
      // so each phase runs exactly ONE batch via Trigger.Once, with
      // state carried across runs by the checkpoint.
      def runOnce(mem: MemoryStream[Event], tag: String,
                  ttl: java.time.Duration): Unit = {
        val q = Streams.streamingDedupTtl(mem.toDS(), ttl)
          .writeStream
          .option("checkpointLocation", s"$dir/$tag/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Event], _: Long) =>
            b.write.mode("append").parquet(s"$dir/$tag/out")
          }
          .start()
        try assert(q.awaitTermination(120000), "stream run timed out")
        finally q.stop()
      }
      def ids(tag: String): Seq[Long] = spark.read.parquet(s"$dir/$tag/out")
        .select("event_id").as[Long].collect().sorted.toSeq

      // phase A — ttl far beyond the test: state survives the restart,
      // in-batch and cross-run repeats both drop
      val memA = MemoryStream[Event]
      memA.addData(
        Event(1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
        Event(2L, ts("2024-01-01 00:11:00"), 1L, "click", 2.0),
        Event(3L, ts("2024-01-01 00:12:00"), 2L, "view", 3.0))
      runOnce(memA, "a", java.time.Duration.ofHours(1))
      memA.addData(Event(4L, ts("2024-01-01 00:13:00"), 1L, "click", 4.0))
      runOnce(memA, "a", java.time.Duration.ofHours(1))
      assert(ids("a") == Seq(1L, 3L),
        s"expected firsts 1,3 with repeats dropped, got ${ids("a")}")

      // phase B — ttl shorter than any restart: the key's dedup record
      // expires between runs and the same key emits afresh
      val memB = MemoryStream[Event]
      memB.addData(Event(6L, ts("2024-01-01 00:20:00"), 9L, "click", 1.0))
      runOnce(memB, "b", java.time.Duration.ofMillis(1))
      Thread.sleep(50)
      memB.addData(Event(7L, ts("2024-01-01 00:21:00"), 9L, "click", 2.0))
      runOnce(memB, "b", java.time.Duration.ofMillis(1))
      assert(ids("b") == Seq(6L, 7L),
        s"expected both emissions after TTL expiry, got ${ids("b")}")
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCk match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }

  test("streaming budget gate admits per-stratum prefixes within budget") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Long, Long)]
      val q = Streams.streamingBudgetGate(
        mem.toDF().toDF("lang", "doc_id", "n_chars"),
        "lang", "doc_id", "n_chars", Map("en" -> 100L))
        .writeStream.format("memory").queryName("budget_out")
        .outputMode("append").start()
      try {
        // batch 1: en uses 80 of 100; de is unbudgeted
        mem.addData(("en", 1L, 50L), ("en", 2L, 30L), ("de", 10L, 40L))
        q.processAllAvailable()
        // batch 2: 20 en tokens left — the 30-token doc must be
        // rejected and the 15-token doc admitted WHATEVER the
        // in-batch order (80+30>100 but 80+15<=100 and 95+30>100)
        mem.addData(("en", 3L, 30L), ("en", 4L, 15L), ("de", 11L, 40L))
        q.processAllAvailable()
      } finally q.stop()
      val admitted = spark.table("budget_out")
        .select("stratum", "doc_id").as[(String, Long)].collect().toSet
      assert(admitted == Set(("en", 1L), ("en", 2L), ("en", 4L),
        ("de", 10L), ("de", 11L)), s"got $admitted")
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming LSH index emits the batch near-dup pairs on ingest") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_slsh").toString
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevCk = spark.conf.getOption(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "false")
    try {
      val all = Seq(
        (1L, "aa bb cc dd ee ff gg hh ii jj"),
        (2L, "aa bb cc dd ee ff gg hh ii kk"), // near-dup of 1
        (3L, "zz yy xx ww vv uu tt ss rr qq"),
        (4L, "aa bb cc dd ee ff gg hh ii jj"), // exact dup of 1, later batch
        (5L, "mm nn oo pp qq rr ss tt uu vv"))
      val mem = MemoryStream[(Long, String)]
      def runOnce(): Unit = {
        val q = Streams.streamingNearDup(
          mem.toDF().toDF("doc_id", "text"), threshold = 0.5)
          .writeStream
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[Streams.NearDupPair], _: Long) =>
              b.write.mode("append").parquet(s"$dir/out")
          }
          .start()
        try assert(q.awaitTermination(120000), "stream run timed out")
        finally q.stop()
      }
      mem.addData(all.take(3): _*)
      runOnce()
      mem.addData(all.drop(3): _*)
      runOnce()
      // multi-band emissions collapse with the same distinct the
      // batch plan ends with
      val streamed = spark.read.parquet(s"$dir/out")
        .select("id_a", "id_b", "jaccard").distinct()
        .as[(Long, Long, Double)].collect().sorted.toSeq
      val batch = graft.operators.Dedup.minhashLsh(
        all.toDF("doc_id", "text"), threshold = 0.5)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(batch.nonEmpty, "fixture must produce near-dup pairs")
      // the cross-batch pair (1,4) proves the index survives batches
      assert(streamed.exists(p => p._1 == 1L && p._2 == 4L),
        s"cross-batch pair missing from $streamed")
      assert(streamed == batch,
        s"stream pairs $streamed != batch pairs $batch")
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCk match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }

  test("streaming quarantine tags instead of dropping, first-wins on dups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_squar").toString
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val prevCk = spark.conf.getOption(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "false")
    try {
      val mem = MemoryStream[Streams.Event]
      def runOnce(): Unit = {
        val q = Streams.streamingQuarantine(mem.toDS(),
            java.time.Duration.ofHours(1))
          .writeStream
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[Streams.TaggedEvent],
             _: Long) => b.write.mode("append").parquet(s"$dir/out")
          }
          .start()
        try assert(q.awaitTermination(120000), "stream run timed out")
        finally q.stop()
      }
      mem.addData(
        Streams.Event(1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0),
        Streams.Event(1L, ts("2024-01-01 00:11:00"), 1L, "click", 2.0),
        Streams.Event(2L, ts("2024-01-01 00:12:00"), 2L, "", 3.0))
      runOnce()
      // cross-batch: key 1 is still a dup, key 3 is fresh
      mem.addData(
        Streams.Event(1L, ts("2024-01-01 00:13:00"), 1L, "click", 4.0),
        Streams.Event(3L, ts("2024-01-01 00:14:00"), 3L, "view", 5.0))
      runOnce()
      val got = spark.read.parquet(s"$dir/out")
        .orderBy("value")
        .select("event_id", "violation")
        .as[(Long, String)].collect().toSeq
      assert(got == Seq((1L, "ok"), (1L, "dup_key"), (2L, "null_field"),
        (1L, "dup_key"), (3L, "ok")),
        s"got $got")
      // nothing dropped: 5 in, 5 out
      assert(got.size == 5)
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCk match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }
}
