package graft

import graft.sources.LogTable
import org.apache.spark.sql.functions._

/** ANALYZE + planner statistics on the transaction-log table:
  * [[LogTable.analyze]] computes exact column stats over the LOGICAL
  * snapshot (deletion vectors subtracted) in one pass and commits
  * them to TBLPROPERTIES; [[LogTable.manifestStatistics]] derives
  * exact row/byte counts and column bounds from the manifest alone;
  * the read substitution attaches both to the plan Spark's planner
  * sees, so a small table carrying a deletion vector still
  * broadcasts. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private val catSeq = new java.util.concurrent.atomic.AtomicInteger

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_stats").toString

  test("analyze: exact ndv/nulls/min/max/lengths over the logical " +
    "snapshot — deletion vectors subtracted, result in TBLPROPERTIES") {
    val t = new LogTable(s"${tmp()}/t")
    val df = (1L to 100L).map { i =>
      (i, if (i % 10 == 0) null else s"s${i % 7}", i % 5)
    }.toDF("k", "s", "m")
    t.append(df.repartition(4))
    t.deleteMor(spark, col("k") > 90L) // DV over the top decile
    val stats = t.analyze(spark)

    assert(stats.rows == 90L)
    assert(stats.analyzedVersion == t.currentVersion.get - 1) // pre-props
    val k = stats.cols("k")
    assert(k.ndv == 90L && k.nulls == 0L)
    assert(k.min.contains("1") && k.max.contains("90"))
    assert(k.avgLen.isEmpty && k.maxLen.isEmpty) // not a string column
    val s = stats.cols("s")
    // logical rows 1..90: nulls at 10,20,...,90 → 9; distinct s0..s6
    assert(s.ndv == 7L && s.nulls == 9L)
    assert(s.min.contains("s0") && s.max.contains("s6"))
    assert(s.avgLen.contains(2L) && s.maxLen.contains(2L))
    val m = stats.cols("m")
    assert(m.ndv == 5L && m.min.contains("0") && m.max.contains("4"))

    // round-trips through TBLPROPERTIES
    assert(t.columnStatistics.contains(stats))
    // the stats commit is metadata-only
    assert(t.commitOp(t.currentVersion.get) == "tblproperties")
  }

  test("manifestStatistics: exact logical rows, DV-scaled bytes, " +
    "bounds folded across files; all-null files don't poison bounds") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, Some("a")), (5L, Some("c"))).toDF("k", "v")
      .repartition(1))
    t.append(Seq((10L, Option.empty[String])).toDF("k", "v")
      .repartition(1)) // v all-null in this file
    val (rows0, bytes0, bounds0) = t.manifestStatistics()
    assert(rows0 == 3L && bytes0 > 0L)
    assert(bounds0("k").min.contains(1L) && bounds0("k").max.contains(10L))
    // the all-null file contributes no v-bound but doesn't drop it
    assert(bounds0("v").min.contains("a") && bounds0("v").max.contains("c"))
    assert(bounds0("v").nulls == 1L)

    t.deleteMor(spark, col("k") === 5L)
    val (rows1, bytes1, _) = t.manifestStatistics()
    assert(rows1 == 2L)
    assert(bytes1 < bytes0) // DV'd file's bytes scale by live fraction
  }

  test("a small DV-carrying table still BROADCASTS — and is the " +
    "BUILD side: the read substitution serves the load() plan whose " +
    "parquet leaves carry real sizes (the V1ScanWrapper used to drop " +
    "the bridge's reported stats, so only the OTHER side could " +
    "ever broadcast)") {
    val dir = tmp()
    val cat = s"gstat${catSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir)
    try {
      val dim = new LogTable(s"$dir/dim")
      dim.append((1L to 50L).map(i => (i, s"n$i")).toDF("k", "name")
        .repartition(1))
      dim.deleteMor(spark, col("k") > 45L) // forces the substituted read
      assert(dim.liveAdds().exists(_.dv.isDefined))
      val fact = (1L to 10000L).map(i => (i % 50 + 1, i)).toDF("k", "x")
      fact.createOrReplaceTempView("fact_v")
      val joined = spark.sql(
        s"SELECT f.k, f.x, d.name FROM fact_v f JOIN $cat.dim d ON f.k = d.k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected broadcast join, got:\n$plan")
      // the DIM (right side of the join as written) must be the
      // build side — its own numbers drive the decision now
      assert(plan.contains("BuildRight"),
        s"expected the dim side to broadcast, got:\n$plan")
      // the substituted read is the codegen'd parquet plan: no DSv2
      // scan relation is left for the planner
      assert(!joined.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation]), s"read not substituted:\n$plan")
      assert(joined.count() == 9000L) // 45 live keys × 200 rows each
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("CALL analyze_table returns the per-column stats rows and " +
    "commits them; a later read serves the analyzed properties") {
    val dir = tmp()
    val cat = s"gstat${catSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir)
    try {
      val t = new LogTable(s"$dir/t")
      t.append(Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
        .toDF("k", "v").repartition(1))
      val out = spark.sql(s"CALL $cat.analyze_table('t')")
        .orderBy("column")
        .select("column", "ndv", "nulls", "min", "max", "row_count")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getLong(5))).toSeq
      assert(out == Seq(
        ("k", 3L, 0L, "1", "3", 3L),
        ("v", 2L, 1L, "a", "b", 3L)))
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t")
        .as[(String, String)].collect().toMap
      assert(props(LogTable.PropStatsRows) == "3")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("complex and binary columns are skipped; analyze of an " +
    "evolved snapshot reflects the CURRENT column set") {
    val t = new LogTable(s"${tmp()}/t")
    t.append(Seq((1L, Array[Byte](1, 2), Seq(1, 2)))
      .toDF("k", "b", "arr").repartition(1))
    val stats = t.analyze(spark)
    assert(stats.cols.keySet == Set("k"))
    assert(stats.rows == 1L)
  }

  test("round-10: ANALYZE records equi-height histograms in the same " +
    "pass; a skewed predicate's row estimate moves to the truth " +
    "where uniform min/max interpolation is off by an order of " +
    "magnitude; round-trips through TBLPROPERTIES") {
    val t = new LogTable(s"${tmp()}/t")
    // hot head: 90% of rows in [0, 10), the rest spread to ~1000
    val hot = (1 to 9000).map(i => (i.toLong % 10L, "h"))
    val cold = (1 to 1000).map(i => (10L + (i % 990L), "t"))
    t.append((hot ++ cold).toDF("k", "tag").repartition(8))
    val stats = t.analyze(spark)
    assert(stats.cols("k").histogram.exists(_.size ==
      graft.sources.LogTable.HistogramBuckets + 1))
    val truth = 9000.0
    val hist = stats.estimateRange("k", 0.0, 9.0).get.toDouble
    // the uniform baseline = the same stats with the histogram gone
    val uni = stats.copy(cols = stats.cols.map { case (n, c) =>
      n -> c.copy(histogram = None) })
      .estimateRange("k", 0.0, 9.0).get.toDouble
    assert(uni < truth / 5, s"uniform unexpectedly close: $uni")
    assert(math.abs(hist - truth) < math.abs(uni - truth) / 5,
      s"histogram $hist, uniform $uni, truth $truth")
    // round-trips through TBLPROPERTIES (estimator included)
    val back = t.columnStatistics.get
    assert(back.cols("k").histogram == stats.cols("k").histogram)
    assert(back.estimateRange("k", 0.0, 9.0)
      .contains(hist.toLong))
    // non-numeric columns carry no histogram
    assert(stats.cols("tag").histogram.isEmpty)
  }

  test("round-10: the DSv2 stats report carries the ANALYZE " +
    "histogram — Spark converts it into catalyst attribute stats " +
    "(per-bucket filter selectivity under CBO)") {
    val dir = tmp()
    val cat = s"gstat${catSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val t = new LogTable(s"$dir/t")
      val hot = (1 to 900).map(i => (i.toLong % 10L, s"h$i"))
      val cold = (1 to 100).map(i => (10L + (i % 90L), s"t$i"))
      t.append((hot ++ cold).toDF("k", "v").repartition(2))
      // vector EVERY file (16 spread rows): the read then has one
      // scanned leg — a partial-DV snapshot unions a clean leg, and
      // Spark's UnionEstimation merges only min/max (documented
      // estimate degradation; sizes and bounds still real)
      t.deleteMor(spark, col("v").isin((1 to 16).map("h" + _): _*))
      assert(t.liveAdds().forall(_.dv.isDefined), "expected all-DV")
      t.analyze(spark)
      val df = spark.table(s"$cat.t")
      val st = df.queryExecution.optimizedPlan.stats
      val kStat = st.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStat.isDefined, s"no attribute stats for k: $st")
      val hist = kStat.get.histogram
      assert(hist.isDefined, s"no histogram on k: $kStat")
      assert(hist.get.bins.length ==
        graft.sources.LogTable.HistogramBuckets)
      // equi-height: every bin carries the same row mass, and the
      // hot head [0, 10) owns ~90% of the bins
      val hotBins = hist.get.bins.count(_.hi <= 10.0)
      assert(hotBins * 10 >= hist.get.bins.length * 8,
        s"hot-head bins: $hotBins of ${hist.get.bins.length}")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("round-11 measurement: read-substitution planning cost on a " +
    "4-DV-table join — the nested per-relation optimization stays " +
    "in the tens of milliseconds, not seconds (numbers → SURVEY §6)") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_subcost").toString
    val cat = "gsubcost"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      (1 to 4).foreach { i =>
        val t = new graft.sources.LogTable(s"$wh/t$i")
        t.append((1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
          .repartition(2))
        t.deleteMor(spark, col("k") % 7 === 0) // DV ⇒ substituted read
      }
      val sql =
        s"""SELECT count(*) FROM $cat.t1 a
            JOIN $cat.t2 b ON a.k = b.k
            JOIN $cat.t3 c ON a.k = c.k
            JOIN $cat.t4 d ON a.k = d.k"""
      def planMillis(): Long = {
        val t0 = System.nanoTime()
        spark.sql(sql).queryExecution.executedPlan // full planning
        (System.nanoTime() - t0) / 1000000L
      }
      // the rule substitutes all four DV relations (sanity:
      // the optimized plan holds no DSv2 relations)
      val opt = spark.sql(sql).queryExecution.optimizedPlan
      assert(!opt.exists(_.isInstanceOf[org.apache.spark.sql.execution
        .datasources.v2.DataSourceV2ScanRelation]),
        "substitution did not fire")
      val warm = planMillis() // class-load + first-parse warmup
      val withRule = (1 to 5).map(_ => planMillis()).sorted.apply(2)
      info(s"planning median-of-5: with substitution ${withRule}ms " +
        s"(warmup ${warm}ms)")
      // regression tripwire, deliberately loose: 4 substituted
      // relations must not cost planning more than 2s on this box
      assert(withRule < 2000L,
        s"read-substitution planning cost blew up: ${withRule}ms")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }
}
