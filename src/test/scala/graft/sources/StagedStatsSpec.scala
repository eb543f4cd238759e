package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The commit's file statistics come from the write tasks
  * ([[StagedStatsTracker]]), not from reading the staged files back.
  * The read-back aggregate the commit used to run stays here as the
  * oracle: on a fixture with every stats edge case both must give
  * the same per-file values and the same Bloom bytes. */
class StagedStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_stagedstats").toString

  private val long = "z" * 300
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType),
    StructField("s", StringType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("b", BooleanType),
    StructField("none", StringType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("amt", DecimalType(10, 2)), StructField("p", StringType)))

  private def fixture(): org.apache.spark.sql.DataFrame = {
    val strings = Seq("a" * 300, long, "�", "𝄞", "é", "",
      null, "m")
    val doubles = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.25, null, 0.5, 3.0)
    val rows = (0 until 48).map { n =>
      Row(n.toLong, if (n % 7 == 0) null else n * 3,
        // the null partition holds only strings over the log's bound
        if (n % 3 == 2) Seq("a" * 300, long)(n % 2)
        else strings(n % strings.size), doubles(n % doubles.size),
        if (n % 5 == 0) Float.NaN else n.toFloat / 4, n % 3 == 0, null,
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(n * 11L)),
        java.sql.Timestamp.from(
          java.time.Instant.parse("2021-03-04T05:06:07.123456Z")
            .plusSeconds(n * 3607L)),
        java.time.LocalDateTime.of(1999, 12, 31, 23, 59).plusMinutes(n * 97L),
        java.math.BigDecimal.valueOf(n * 100 + 7, 2),
        Seq("x", "y", null)(n % 3))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(3)
  }

  private def statProjection(f: StructField): Column = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      col(f.name).cast("long")
    case FloatType | DoubleType => col(f.name).cast("double")
    case StringType             => col(f.name)
    case BooleanType            => col(f.name).cast("long")
    case DateType               => expr(s"unix_date(`${f.name}`)")
    case TimestampType          => unix_micros(col(f.name))
    case TimestampNTZType => graft.plans.TimeExpressions.ntzMicros(col(f.name))
    case other => throw new IllegalStateException(s"no projection: $other")
  }

  /** The read-back aggregate: one group per file of `dir`, over the
    * columns and rules the in-write stats were laid out by. */
  private def oracle(dir: String, s: StructType, like: StagedStats,
                     bloomItems: Long): Map[String, StagedFileStats] = {
    val cols = like.statCols.map(s(_))
    val aggs: Seq[Column] = count(lit(1)) +: (cols.flatMap { f =>
      Seq(min(statProjection(f)), max(statProjection(f)),
        sum(col(f.name).isNull.cast("long")))
    } ++ like.bloomCols.map(c =>
      graft.plans.BloomExpressions.bloomAgg(xxhash64(col(c)), bloomItems)
    ) ++ like.checks.map { case (_, e) =>
      sum(coalesce(!expr(e), lit(false)).cast("long")) })
    val rows = spark.read.schema(s).option("basePath", dir).parquet(dir)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val root = Paths.get(dir).toAbsolutePath
    val (n, nb) = (cols.size, like.bloomCols.size)
    rows.map { r =>
      val rel = root.relativize(
        new File(new URI(r.getString(0))).toPath.toAbsolutePath).toString
      rel -> StagedFileStats(r.getLong(1),
        (0 until n).map(i => r.get(2 + 3 * i)),
        (0 until n).map(i => r.get(3 + 3 * i)),
        (0 until n).map(i => r.getLong(4 + 3 * i)),
        (0 until nb).map(j => r.getAs[Array[Byte]](2 + 3 * n + j)),
        like.checks.indices.map(c => r.getLong(2 + 3 * n + nb + c)))
    }.toMap
  }

  /** Comparable form: NaN equals NaN, byte arrays by content. */
  private def norm(fs: StagedFileStats): Seq[Any] = {
    def v(x: Any): Any = x match {
      case d: Double if d.isNaN => "NaN"
      case other                => other
    }
    Seq(fs.rows, fs.mins.map(v), fs.maxs.map(v), fs.nulls,
      fs.blooms.map(b => Option(b).map(_.toSeq)), fs.violations)
  }

  /** An AddFile's stats as the log text carries them. */
  private def normAdd(a: AddFile): Map[String, Any] =
    LogCodec.decodeStats(LogCodec.encodeStats(a.stats)).map { case (c, st) =>
      def v(x: Option[Any]): Any = x match {
        case Some(d: Double) if d.isNaN => "NaN"
        case other                      => other
      }
      c -> ((v(st.min), v(st.max), st.nulls))
    } + ("__rows" -> a.rows)

  test("in-write stats and Bloom bytes equal the read-back aggregate: " +
    "long strings, NaN/±Infinity, a null-only column, dates and " +
    "timestamps, partitions, bloom columns") {
    val t = new LogTable(s"${tmp()}/t", bloomExpectedItems = 1000L)
    t.create(schema, partitionBy = Seq("p"), bloomFilterBy = Seq("k", "s"),
      checkConstraints = Map("k_nonneg" -> "k >= 0"))
    val dir = t.newStagingDir()
    val inWrite = t.writeStaged(fixture(), dir, t.schema)
    assert(inWrite.statCols == schema.fieldNames.toSeq.filterNot(_ == "amt"))
    assert(inWrite.bloomCols == Seq("k", "s"))
    val expected = oracle(dir, t.schema, inWrite, 1000L)
    val written = inWrite.files.filter(_._2.rows > 0L)
    assert(written.keySet == expected.keySet)
    assert(written.size > 3) // several tasks × several partition dirs
    written.foreach { case (rel, fs) =>
      assert(norm(fs) == norm(expected(rel)), rel)
    }
    // the commit-side fold agrees too: truncated long min, no max
    val folded = t.foldStats(inWrite)
    val foldedOracle = t.foldStats(inWrite.copy(files = expected))
    assert(folded.keySet == foldedOracle.keySet)
    folded.foreach { case (rel, (add, blooms)) =>
      assert(normAdd(add) == normAdd(foldedOracle(rel)._1), rel)
      assert(blooms.map { case (c, b) => c -> b.toSeq } ==
        foldedOracle(rel)._2.map { case (c, b) => c -> b.toSeq })
    }
    assert(folded.values.exists { case (a, _) =>
      a.stats("s").min.contains("a" * 256) && a.stats("s").max.isEmpty })
    assert(folded.values.forall { case (a, _) =>
      a.stats("none").min.isEmpty && a.stats("none").nulls == a.rows })
    t.dropStaging(dir)

    // and through a real commit: the log's stats and the _bloom
    // sidecars equal the oracle over the committed data files
    t.append(fixture())
    val dataDir = s"${t.path}/data"
    val committed = t.foldStats(inWrite.copy(
      files = oracle(dataDir, t.schema, inWrite, 1000L)))
    val adds = t.liveAdds()
    assert(adds.map(_.path.stripPrefix("data/")).toSet == committed.keySet)
    adds.foreach { a =>
      val (want, blooms) = committed(a.path.stripPrefix("data/"))
      assert(normAdd(a) == normAdd(want), a.path)
      val name = new File(a.path).getName
      blooms.foreach { case (c, bytes) =>
        assert(Files.readAllBytes(Paths.get(t.path, "_bloom",
          s"$name.$c.bloom")).toSeq == bytes.toSeq, s"${a.path} $c")
      }
    }
    assert(t.load(spark).count() == 48L)
  }

  private def files(root: String, sub: String): Set[String] = {
    val d = new File(root, sub)
    if (!d.exists()) Set.empty
    else Files.walk(d.toPath).toArray.map(_.toString).toSet
  }

  test("a CHECK violation and a mismatching generated column each " +
    "refuse the commit: no data or bloom file, no staging, no version") {
    val s = StructType(Seq(StructField("k", LongType),
      StructField("g", LongType), StructField("v", StringType)))
    val t = new LogTable(s"${tmp()}/t", bloomExpectedItems = 100L)
    t.create(s, bloomFilterBy = Seq("v"),
      checkConstraints = Map("k_small" -> "k < 100"),
      generatedAlwaysAs = Map("g" -> "k * 2"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val (v0, data0, bloom0) =
      (t.currentVersion, files(t.path, "data"), files(t.path, "_bloom"))
    assert(bloom0.exists(_.endsWith(".v.bloom")))
    def unchanged(): Unit = {
      assert(t.currentVersion == v0)
      assert(files(t.path, "data") == data0)
      assert(files(t.path, "_bloom") == bloom0)
      assert(new File(t.path, "_staging").listFiles().isEmpty)
    }
    val e1 = intercept[IllegalArgumentException](
      t.append(Seq((5L, "b"), (500L, "c")).toDF("k", "v")))
    assert(e1.getMessage.contains("k_small"))
    unchanged()
    val e2 = intercept[IllegalArgumentException](
      t.append(Seq((5L, 11L, "b")).toDF("k", "g", "v")))
    assert(e2.getMessage.contains("generated column g"))
    unchanged()
    assert(t.load(spark).select("k", "g").as[(Long, Long)].collect().toSeq
      == Seq((1L, 2L)))
  }

  /** Run `body`, returning the physical plans of every SQL execution
    * it started. */
  private def stagingScans(plans: Seq[String]): Seq[String] =
    plans.flatMap(_.split('\n')).filter(l =>
      l.contains("Location:") && l.contains("_staging"))

  test("an append and a MERGE commit run no job over their own " +
    "staged files") {
    val t = new LogTable(s"${tmp()}/t", bloomExpectedItems = 100L)
    t.create(StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))), partitionBy = Seq("v"),
      bloomFilterBy = Seq("k"), checkConstraints = Map("pos" -> "k > 0"))
    val appendPlans = plansOf(
      t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")))
    assert(appendPlans.nonEmpty)
    assert(stagingScans(appendPlans).isEmpty, appendPlans.mkString("\n"))
    // the write is the append's only execution
    assert(appendPlans.size == 1, appendPlans.mkString("\n"))

    val wh = tmp()
    spark.conf.set("spark.sql.catalog.staged_stats_cat",
      classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.staged_stats_cat.warehouse", wh)
    val dim = new LogTable(s"$wh/dim")
    dim.create(StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))), partitionBy = Seq("v"))
    dim.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    Seq((2L, "b2"), (4L, "d")).toDF("k", "v")
      .createOrReplaceTempView("staged_stats_src")
    val mergePlans = plansOf(SqlMerge.mergeLog(spark,
      "MERGE INTO staged_stats_cat.dim t USING staged_stats_src s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(mergePlans.nonEmpty)
    assert(stagingScans(mergePlans).isEmpty, mergePlans.mkString("\n"))
    assert(dim.load(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }
}
