package graft

import graft.operators.Pipeline
import graft.operators.Pipeline.TableConfig
import graft.sources.{LogTable, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.Charset
import java.nio.file.Files

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("readCsv parses the reference defaults: \\r\\n, latin-1, no quoting") {
    // the reference's defaults map carries quoting=QUOTE_NONE,
    // line_terminator=\r\n and a non-UTF-8 single-byte encoding —
    // one fixture exercising all three (ä in latin-1 is one 0xE4
    // byte, same as cp1252; Spark 4's default charset allowlist
    // admits iso-8859-1, cp1252 itself needs
    // spark.sql.legacy.javaCharsets)
    val dir = Files.createTempDirectory("graft_csv_ref")
    val f = dir.resolve("bericht.csv")
    val content = "Id;Text;Ort\r\n1;er sagte \"hallo\";München\r\n2;a;b\r\n"
    Files.write(f, content.getBytes(Charset.forName("ISO-8859-1")))
    val df = Tables.readCsv(spark, f.toString, delimiter = ";",
      encoding = "iso-8859-1", quoting = false, inferSchema = false)
    val rows = df.orderBy("Id").as[(String, String, String)].collect().toSeq
    assert(rows == Seq(
      ("1", "er sagte \"hallo\"", "München"), // quotes kept verbatim
      ("2", "a", "b")))
  }

  test("readCsv malformed-row policies: DROPMALFORMED vs PERMISSIVE") {
    val dir = Files.createTempDirectory("graft_csv_bad")
    val f = dir.resolve("bad.csv")
    Files.writeString(f, "id;wert\n1;10\nkaputt\n2;20\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("wert", LongType)))
    val dropped = Tables.readCsv(spark, f.toString, delimiter = ";",
      schema = Some(schema), mode = "DROPMALFORMED")
    assert(dropped.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    val permissive = Tables.readCsv(spark, f.toString, delimiter = ";",
      schema = Some(schema), mode = "PERMISSIVE")
    assert(permissive.count() == 3) // malformed row kept, null-filled
  }

  test("ingest log persists processed files across runs") {
    val log = tmpDir("graft_ilog") + "/log"
    val t1 = ts("2026-01-01 00:00:00")
    def listing(names: String*) = names.toSeq.toDF("name")
    // run 1: everything is new; ingest and record it
    val run1 = Tables.newFilesFromLog(spark, listing("a.csv", "b.csv"), log)
    assert(run1.as[String].collect().sorted.toSeq == Seq("a.csv", "b.csv"))
    Tables.appendIngestLog(run1, log, "b1", t1)
    // run 2 (fresh listing incl. one new file): only c.csv is new
    val run2 = Tables.newFilesFromLog(spark,
      listing("a.csv", "b.csv", "c.csv"), log)
    assert(run2.as[String].collect().toSeq == Seq("c.csv"))
    Tables.appendIngestLog(run2, log, "b2", ts("2026-01-02 00:00:00"))
    // run 3: nothing new; log carries per-batch provenance
    assert(Tables.newFilesFromLog(spark,
      listing("a.csv", "b.csv", "c.csv"), log).isEmpty)
    val byBatch = Tables.readIngestLog(spark, log)
      .groupBy("batch_id").count().as[(String, Long)].collect().toMap
    assert(byBatch == Map("b1" -> 2L, "b2" -> 1L))
  }

  test("HadoopFsLister: glob + last-modified listing feeds new-file detect") {
    val dir = tmpDir("graft_lister")
    def touch(name: String, mtimeMs: Long): Unit = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, "x")
      assert(f.setLastModified(mtimeMs))
    }
    touch("a.csv", 1700000000000L)
    touch("b.csv", 1700086400000L)
    touch("c.txt", 1700086400000L) // pattern-excluded
    val all = Tables.HadoopFsLister.list(spark, s"$dir/*.csv")
    assert(all.select("name").as[String].collect()
      .map(_.split('/').last).sorted.toSeq == Seq("a.csv", "b.csv"))
    // last-modified cutoff mirrors the reference's client-side filter
    val recent = Tables.HadoopFsLister.list(spark, s"$dir/*.csv",
      modifiedSince = Some(new java.sql.Timestamp(1700050000000L)))
    assert(recent.select("name").as[String].collect()
      .map(_.split('/').last).toSeq == Seq("b.csv"))
    // composes with the ingest log: the anti-join sees listed names
    val log = s"$dir/log"
    Tables.appendIngestLog(all.filter(col("name").endsWith("a.csv")),
      log, "b1", ts("2026-01-01 00:00:00"))
    val fresh = Tables.newFilesFromLog(spark, all, log)
      .select("name").as[String].collect().map(_.split('/').last).toSeq
    assert(fresh == Seq("b.csv"))
    // a bare directory path lists its files one level down
    val byDir = Tables.HadoopFsLister.list(spark, dir)
    assert(byDir.count() == 3)
  }

  private val cfg = TableConfig("kunden",
    keyCols = Seq("kunde_id"), attrCols = Seq("stadt"),
    recencyCols = Seq("ingest_ts"), scdType = 2)

  private val batch1 = Seq((1L, "Berlin"), (2L, "Hamburg"))
  private val batch2 = Seq((2L, "München"))
  private val ts1 = ts("2026-01-01 00:00:00")
  private val ts2 = ts("2026-01-02 00:00:00")

  private def rowsOf(dim: DataFrame): Seq[(Long, String, Boolean)] =
    dim.orderBy("kunde_id", "valid_from")
      .select("kunde_id", "stadt", "is_current")
      .as[(Long, String, Boolean)].collect().toSeq

  private def driveTwoIncrements(log: LogTable): Seq[(Long, String, Boolean)] = {
    Pipeline.runIncrementInto(log, batch1.toDF("kunde_id", "stadt"), cfg,
      "b1", ts1)
    Pipeline.runIncrementInto(log, batch2.toDF("kunde_id", "stadt"), cfg,
      "b2", ts2)
    rowsOf(log.load(spark))
  }

  private val expected = Seq(
    (1L, "Berlin", true),
    (2L, "Hamburg", false), // closed by batch 2
    (2L, "München", true))

  test("runIncrementInto on a LogTable equals the in-memory runIncrement " +
    "chain") {
    val log = new LogTable(tmpDir("graft_dimlog") + "/dim")
    assert(driveTwoIncrements(log) == expected)
    // the committed dimension is row-for-row the pure-frame chain,
    // every column included (validity windows, ingest metadata)
    val b1 = batch1.toDF("kunde_id", "stadt")
    val dim1 = Pipeline.runIncrement(b1, Pipeline.emptyDim(spark, b1, cfg),
      cfg, "b1", ts1)
    val dim2 = Pipeline.runIncrement(batch2.toDF("kunde_id", "stadt"), dim1,
      cfg, "b2", ts2)
    def all(df: DataFrame): Seq[String] =
      df.select(dim2.columns.sorted.map(col): _*).collect().map(_.toString)
        .toSeq.sorted
    assert(all(log.load(spark)) == all(dim2))
  }

  test("versioned sink: snapshot commits, time travel, vacuum") {
    val log = new LogTable(tmpDir("graft_vsink") + "/dim")
    assert(driveTwoIncrements(log) == expected)
    // two commits → two versions, the head at the latest
    assert(log.versions == Seq(0L, 1L))
    assert(log.currentVersion.contains(1L))
    // time travel: version 0 is the post-batch-1 dimension
    assert(rowsOf(log.load(spark, Some(0L))) ==
      Seq((1L, "Berlin", true), (2L, "Hamburg", true)))
    // expiry + vacuum drop superseded versions and their files, keep
    // the current snapshot
    val v0Files = log.liveAdds(Some(0L)).map(_.path)
    log.expireSnapshots(retainLast = 1)
    log.vacuum(retainLast = 1, retentionMillis = 0L)
    assert(log.versions == Seq(1L))
    assert(v0Files.forall(p => !new java.io.File(log.path, p).exists))
    assert(log.load(spark).count() == 3)
  }

  test("expireSnapshots retains the newest N and the current pointer") {
    val log = new LogTable(tmpDir("graft_expire") + "/dim")
    (1 to 5).foreach(n =>
      log.overwrite(Seq.tabulate(n)(i => (i.toLong, s"r$i"))
        .toDF("k", "v")))
    val expired = log.expireSnapshots(retainLast = 2)
    assert(expired.nonEmpty)
    assert(log.versions == Seq(3L, 4L))
    assert(log.currentVersion.contains(4L))
    // retained versions stay time-travelable, current stays loadable
    assert(log.load(spark, Some(3L)).count() == 4)
    assert(log.load(spark).count() == 5)
    // expired versions refuse time travel
    intercept[Exception](log.load(spark, Some(2L)).count())
    // idempotent: nothing left to expire
    assert(log.expireSnapshots(retainLast = 2).isEmpty)
    assert(log.versions == Seq(3L, 4L))
  }

  test("compactFiles merges small files without losing rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_spec")
    val frag = tmp.resolve("frag").toString
    val opt = tmp.resolve("opt").toString
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    df.repartition(32).write.parquet(frag)
    val fragFiles = new java.io.File(frag).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles == 32)
    // generous target → everything fits one file
    val n = Tables.compactFiles(spark, frag, opt)
    assert(n == 1)
    val back = spark.read.parquet(opt)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id"))
      .head.getLong(0) == 500500L)
  }
}
