package graft

import graft.sources.{GraftTableCatalog, IdentitySpec, LogTable, SqlMerge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-granularity MERGE INTO the transaction-log table: only files
  * containing changed rows are rewritten; inserts append; untouched
  * files carry forward by reference. */
class LogMergeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logmerge").toString

  private def seeded(): LogTable = {
    val t = new LogTable(s"${tmp()}/t")
    // two single-file commits, disjoint key ranges
    t.append(Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "n")
      .repartition(1))
    t.append(Seq((10L, "c", 0L), (11L, "d", 0L)).toDF("k", "v", "n")
      .repartition(1))
    t
  }

  test("update/delete/insert in one merge: only the touched file is " +
    "rewritten, the untouched one carries by reference") {
    val t = seeded()
    val untouched = t.liveAdds().find(_.stats("k").max.contains(2L)).get.path
    Seq((10L, 5L), (11L, 20L), (30L, 7L)).toDF("k", "m")
      .createOrReplaceTempView("lm_src_1")
    val r = SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_1 s ON t.k = s.k
         WHEN MATCHED AND s.m > 10 THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = 'upd', n = s.m
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, 'new', s.m)""",
      t)
    assert(r.updated == 1L && r.deleted == 1L && r.inserted == 1L
      && r.unchanged == 2L, r)
    assert(t.load(spark).select("k", "v", "n").as[(Long, String, Long)]
      .collect().toSet == Set((1L, "a", 0L), (2L, "b", 0L),
        (10L, "upd", 5L), (30L, "new", 7L)))
    // the low-range file was never part of the rewrite
    assert(t.liveAdds().map(_.path).contains(untouched))
    assert(t.commitOp(t.currentVersion.get) == "merge")
  }

  test("insert-only merge removes nothing — pure append commit") {
    val t = seeded()
    val before = t.liveAdds().map(_.path).toSet
    Seq((50L, 1L)).toDF("k", "m").createOrReplaceTempView("lm_src_2")
    val r = SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_2 s ON t.k = s.k
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, 'new', s.m)""",
      t)
    assert(r.inserted == 1L && r.updated == 0L && r.deleted == 0L)
    assert(before.subsetOf(t.liveAdds().map(_.path).toSet))
    assert(t.load(spark).count() == 5L)
  }

  test("NOT MATCHED BY SOURCE deletes touch the unmatched rows' " +
    "files too") {
    val t = seeded()
    Seq((10L, 1L)).toDF("k", "m").createOrReplaceTempView("lm_src_3")
    val r = SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_3 s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET n = s.m
         WHEN NOT MATCHED BY SOURCE AND t.k <= 1 THEN DELETE""",
      t)
    assert(r.updated == 1L && r.deleted == 1L, r)
    assert(t.load(spark).select("k").as[Long].collect().toSet
      == Set(2L, 10L, 11L))
  }

  test("a merge commit records its change feed: pre/post images, " +
    "deletes and inserts") {
    val t = seeded()
    val before = t.currentVersion.get
    Seq((10L, 5L), (11L, 20L), (30L, 7L)).toDF("k", "m")
      .createOrReplaceTempView("lm_src_cdf")
    SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_cdf s ON t.k = s.k
         WHEN MATCHED AND s.m > 10 THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = 'upd', n = s.m
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, 'new', s.m)""",
      t)
    val cdf = t.changes(spark, before, t.currentVersion.get)
      .select("k", "v", "n", "_change_type")
      .as[(Long, String, Long, String)].collect().toSet
    assert(cdf == Set(
      (10L, "c", 0L, "update_preimage"),
      (10L, "upd", 5L, "update_postimage"),
      (11L, "d", 0L, "delete"),
      (30L, "new", 7L, "insert")))
  }

  test("the merge feed's raw files carry the scan provenance the " +
    "derived rewrite keys on; changes() stays the pinned schema") {
    val t = seeded()
    val before = t.currentVersion.get
    Seq((10L, 5L), (11L, 20L), (30L, 7L)).toDF("k", "m")
      .createOrReplaceTempView("lm_src_prov")
    SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_prov s ON t.k = s.k
         WHEN MATCHED AND s.m > 10 THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = 'upd', n = s.m
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, 'new', s.m)""",
      t)
    // reader surface: the pinned feed contract — user schema +
    // _change_type + _commit_version, extras invisible
    assert(t.changes(spark, before, t.currentVersion.get).columns.toSeq
      == Seq("k", "v", "n", "_change_type", "_commit_version"))
    // the raw feed files DO carry (__file, __idx) — that is what the
    // rewrite derives its survivor anti-join from; assert they are
    // really there so this fails loudly if the write shape changes
    // and the schema assertion above goes vacuous
    val feedDirs = new java.io.File(t.path, "_cdf").listFiles().toSeq
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(feedDirs.map(_.getPath): _*)
    assert(raw.columns.contains("__file") &&
      raw.columns.contains("__idx"))
    // every pre-image/delete is bound to a physical target row (the
    // anti-join key); inserts carry no provenance
    assert(raw.filter(col("_change_type")
      .isin("update_preimage", "delete") && col("__file").isNull)
      .count() == 0L)
    assert(raw.filter(col("_change_type") === "insert" &&
      col("__file").isNotNull).count() == 0L)
  }

  test("cardinality violation aborts before any commit") {
    val t = seeded()
    val v = t.currentVersion.get
    Seq((10L, 1L), (10L, 2L)).toDF("k", "m")
      .createOrReplaceTempView("lm_src_4")
    intercept[IllegalStateException](SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_4 s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET n = s.m""", t))
    assert(t.currentVersion.contains(v)) // nothing committed
  }

  test("MERGE INTO cat.t resolves the log table from the statement's " +
    "own name; the catalog serves the merged snapshot") {
    val wh = tmp()
    val t = new LogTable(s"$wh/dim")
    t.append(Seq((1L, "a", 0L)).toDF("k", "v", "n"))
    spark.conf.set("spark.sql.catalog.lmcat",
      classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.lmcat.warehouse", wh)
    Seq((1L, 9L), (2L, 3L)).toDF("k", "m")
      .createOrReplaceTempView("lm_src_5")
    val r = SqlMerge.mergeLog(spark,
      """MERGE INTO lmcat.dim t USING lm_src_5 s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET n = s.m
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, 'new', s.m)""")
    assert(r.updated == 1L && r.inserted == 1L)
    assert(spark.sql("SELECT k, v, n FROM lmcat.dim ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 9L), (2L, "new", 3L)))
  }

  /** Feed directories a table holds under `_cdf`. */
  private def feedDirs(t: LogTable): Seq[String] = entriesUnder(t.path, "_cdf")

  test("a MERGE executes its join once: one execution scans the " +
    "source and every live target file, one scans only the touched " +
    "file, and no job infers the feed's schema") {
    val t = seeded()
    val live = t.liveAdds()
    val touchedName = new java.io.File(
      live.find(_.stats("k").max.contains(11L)).get.path).getName
    val srcDir = s"${tmp()}/src_once"
    Seq((10L, 5L), (30L, 7L)).toDF("k", "m").write.parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("lm_src_once")
    var outside = Seq.empty[String]
    val plans = plansOf {
      outside = jobsOutsideSql(SqlMerge.mergeLog(spark,
        """MERGE INTO dim t USING lm_src_once s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET v = 'upd', n = s.m
           WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, 'new', s.m)""",
        t))
    }
    // a scan's Location names its first file and counts the others
    def scans(plan: String): Seq[String] =
      plan.split('\n').toSeq.filter(_.contains("Location:"))
    val joins = plans.filter(_.contains("src_once"))
    assert(joins.size == 1, plans.mkString("\n----\n"))
    assert(scans(joins.head).exists(l => l.contains(s"${t.path}/data/") &&
      l.contains(s"... ${live.size - 1} entries")), joins.head)
    val rewrites = plans.filter(p => scans(p).exists(l =>
      l.contains(s"$touchedName]")))
    assert(rewrites.size == 1, plans.mkString("\n----\n"))
    assert(!rewrites.head.contains("src_once"), rewrites.head)
    assert(outside.isEmpty, outside)
    assert(t.load(spark).select("k", "v", "n").as[(Long, String, Long)]
      .collect().toSet == Set((1L, "a", 0L), (2L, "b", 0L),
        (10L, "upd", 5L), (11L, "d", 0L), (30L, "new", 7L)))
  }

  /** A duplicate match refuses before any commit and leaves no feed
    * directory behind. */
  private def refusesDuplicate(src: Seq[(Long, Long, Long)],
                               mergeSql: String): Unit = {
    val t = seeded()
    val v = t.currentVersion.get
    src.toDF("k", "m", "k2").createOrReplaceTempView("lm_src_dup")
    val e = intercept[IllegalStateException](
      SqlMerge.mergeLog(spark, mergeSql, t))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(t.currentVersion.contains(v))
    assert(feedDirs(t).isEmpty, feedDirs(t))
    assert(t.load(spark).count() == 4L)
  }

  test("a duplicate match refuses when both matches fire an UPDATE") {
    refusesDuplicate(Seq((10L, 1L, 0L), (10L, 2L, 0L)),
      """MERGE INTO dim t USING lm_src_dup s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET n = s.m""")
  }

  test("a duplicate match refuses when one match fires and one takes " +
    "no action") {
    refusesDuplicate(Seq((10L, 1L, 0L), (10L, 2L, 0L)),
      """MERGE INTO dim t USING lm_src_dup s ON t.k = s.k
         WHEN MATCHED AND s.m > 1 THEN UPDATE SET n = s.m""")
  }

  test("a duplicate match refuses when neither match fires an action") {
    refusesDuplicate(Seq((10L, 1L, 0L), (10L, 2L, 0L)),
      """MERGE INTO dim t USING lm_src_dup s ON t.k = s.k
         WHEN MATCHED AND s.m > 100 THEN UPDATE SET n = s.m""")
  }

  test("a duplicate match refuses through a join without an equi key") {
    refusesDuplicate(Seq((10L, 1L, 99L), (99L, 2L, 10L)),
      """MERGE INTO dim t USING lm_src_dup s
         ON t.k = s.k OR t.k = s.k2
         WHEN MATCHED THEN UPDATE SET n = s.m""")
  }

  test("a join without an equi key still merges: counters, rows, feed") {
    val t = seeded()
    val before = t.currentVersion.get
    Seq((10L, 5L, 99L), (99L, 6L, 2L), (40L, 7L, 41L)).toDF("k", "m", "k2")
      .createOrReplaceTempView("lm_src_nonequi")
    val r = SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_nonequi s
         ON t.k = s.k OR t.k = s.k2
         WHEN MATCHED THEN UPDATE SET n = s.m
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, 'new', s.m)""",
      t)
    assert(r == SqlMerge.MergeResult(updated = 2L, deleted = 0L,
      inserted = 1L, unchanged = 2L), r)
    assert(t.load(spark).select("k", "n").as[(Long, Long)].collect().toSet
      == Set((1L, 0L), (2L, 6L), (10L, 5L), (11L, 0L), (40L, 7L)))
    assert(t.changes(spark, before, t.currentVersion.get)
      .filter(col("_change_type") === "update_postimage").count() == 2L)
  }

  test("a no-op merge commits nothing and leaves no feed directory") {
    val t = seeded()
    val v = t.currentVersion.get
    Seq((10L, 1L)).toDF("k", "m").createOrReplaceTempView("lm_src_noop")
    val r = SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_noop s ON t.k = s.k
         WHEN MATCHED AND s.m > 100 THEN UPDATE SET n = s.m""", t)
    assert(r == SqlMerge.MergeResult(0L, 0L, 0L, 4L), r)
    assert(t.currentVersion.contains(v))
    assert(feedDirs(t).isEmpty, feedDirs(t))
  }

  test("a source that changes between executions commits exactly its " +
    "own change feed") {
    val t = seeded()
    val before = t.currentVersion.get
    val pre = t.load(spark).select("k", "v", "n")
      .as[(Long, String, Long)].collect().toSeq
    // the first execution of the source matches keys 1 and 2 (one
    // file), any later one keys 10 and 11 (the other file)
    LogMergeSpec.calls.set(0L)
    val draw = udf(() => LogMergeSpec.calls.getAndIncrement())
      .asNondeterministic()
    spark.range(2).select(col("id").as("i"), draw().as("c"))
      .select(when(col("c") < 2L, col("i") + 1L).otherwise(col("i") + 10L)
        .as("k"))
      .createOrReplaceTempView("lm_src_nondet")
    SqlMerge.mergeLog(spark,
      """MERGE INTO dim t USING lm_src_nondet s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = 'upd'""", t)
    val feed = t.changes(spark, before, t.currentVersion.get)
      .select("k", "v", "n", "_change_type")
      .as[(Long, String, Long, String)].collect().toSeq
    def images(ct: String*) = feed.filter(r => ct.contains(r._4))
      .map(r => (r._1, r._2, r._3))
    val expected = pre.diff(images("update_preimage", "delete")) ++
      images("update_postimage", "insert")
    val after = t.load(spark).select("k", "v", "n")
      .as[(Long, String, Long)].collect().toSeq
    assert(images("update_preimage").size == 2, feed)
    assert(after.sorted == expected.sorted, s"feed $feed")
    assert(after.map(_._1).distinct.size == after.size, after)
  }

  test("an identity-allocating merge commits the ids its feed's " +
    "inserts carry") {
    val t = new LogTable(s"${tmp()}/t")
    t.create(StructType(Seq(StructField("id", LongType),
      StructField("k", LongType), StructField("v", StringType))),
      identityColumns = Map("id" -> IdentitySpec(7L, 5L)))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val before = t.currentVersion.get
    Seq((2L, "b2"), (8L, "h"), (9L, "i")).toDF("k", "v")
      .createOrReplaceTempView("lm_src_ids")
    val r = SqlMerge.mergeLog(spark,
      """MERGE INTO t t USING lm_src_ids s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""", t)
    assert(r.inserted == 2L && r.updated == 1L, r)
    val fed = t.changes(spark, before, t.currentVersion.get)
      .filter(col("_change_type") === "insert")
      .select("k", "id").as[(Long, Long)].collect().toMap
    val committed = t.load(spark).filter(col("k") >= 8L)
      .select("k", "id").as[(Long, Long)].collect().toMap
    assert(fed.keySet == Set(8L, 9L) && committed == fed,
      s"feed $fed, table $committed")
    assert(t.identityColumns("id").highWater.contains(fed.values.max))
    // one staging, committed: no separate insert staging is left
    assert(Option(new java.io.File(t.path, "_staging").listFiles())
      .forall(_.isEmpty))
  }
}

object LogMergeSpec {
  /** Calls of the non-deterministic source UDF. */
  val calls = new java.util.concurrent.atomic.AtomicLong()
}
